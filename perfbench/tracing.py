"""Layer numbers measured from outside the library.

A traced operation runs under its own Spark job group, so its jobs and
stages can be read back from Spark's status store once the listener bus
has drained.  While tracing, ``DataFrame.toPandas`` is wrapped to note
which DataFrame an operation collected and when: that gives the
DataFrame build time (call to collect), Catalyst's own phase timings
(``queryExecution().tracker()``) and the driver-side share of the
collect.  Workloads add their own spans around calls into a layer with
``OpTrace.span``.  The library's ``stats_enable()`` counters are on only
inside a traced operation."""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import common
import metrics

PHASES = ("analysis", "optimization", "planning")


@dataclass
class Collect:
    df: object
    t_enter: float
    t_exit: float
    epoch_ms: float
    rows: int
    nbytes: int


@dataclass
class OpTrace:
    kind: str
    t0: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    spans: dict = field(default_factory=dict)
    collects: list = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_ms: float = 0.0
    collect_job_wall_ms: float = 0.0
    task_run_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cached_entries: int = 0
    phases: dict = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + \
                (time.perf_counter() - t) * 1e3

    @property
    def build_ms(self):
        """Call to the first collect, minus spans the workload timed
        itself inside that interval (array open)."""
        if not self.collects:
            return None
        return ((self.collects[0].t_enter - self.t0) * 1e3
                - self.spans.get("array.open", 0.0))

    @property
    def collect_driver_ms(self):
        if not self.collects:
            return None
        c = self.collects[-1]
        return (c.t_exit - c.t_enter) * 1e3 - self.collect_job_wall_ms


class Tracer:
    """``Tracer(spark, enabled=False)`` only times operations."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[OpTrace] = []
        self._seq = 0
        self._current = None
        self._orig_to_pandas = None
        if enabled:
            from tiledb_py_spark import stats

            stats.stats_reset()
            # the session's concrete DataFrame class defines toPandas
            self._cls = type(spark.range(0))
            self._orig_to_pandas = self._cls.toPandas
            self._cls.toPandas = self._wrap(self._orig_to_pandas)

    def close(self) -> None:
        if self.enabled:
            from tiledb_py_spark import stats

            self._cls.toPandas = self._orig_to_pandas
            stats.stats_disable()

    def _wrap(self, orig):
        tracer = self

        def toPandas(df):
            t_enter, epoch_ms = time.perf_counter(), time.time() * 1e3
            out = orig(df)
            rec = tracer._current
            if rec is not None:
                rec.collects.append(Collect(
                    df, t_enter, time.perf_counter(), epoch_ms, len(out),
                    int(out.memory_usage(index=False, deep=False).sum())))
            return out

        return toPandas

    @contextmanager
    def op(self, kind: str):
        rec = OpTrace(kind)
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            from tiledb_py_spark import stats

            self._seq += 1
            group = f"perfbench-{self._seq}"
            sc.setJobGroup(group, kind, False)
            self._current = rec
            stats.stats_enable()
        cpu0 = common.tree_cpu_s()
        rec.t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - rec.t0
            rec.cpu_s = common.tree_cpu_s() - cpu0
            if self.enabled:
                stats.stats_disable()
                self._current = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if self.enabled:
            self._read_status(rec, group)
            self._read_phases(rec)
        self.ops.append(rec)

    def _read_status(self, rec: OpTrace, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        after_ms = rec.collects[-1].epoch_ms - 5 if rec.collects else None
        seen = set()
        for jid in tracker.getJobIdsForGroup(group):
            rec.jobs += 1
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                sub = jd.submissionTime().get().getTime()
                wall = jd.completionTime().get().getTime() - sub
                rec.job_wall_ms += wall
                if after_ms is not None and sub >= after_ms:
                    rec.collect_job_wall_ms += wall
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                rec.stages += 1
                rec.tasks += sd.numTasks()
                rec.task_run_ms += sd.executorRunTime()
                rec.input_bytes += sd.inputBytes()
                rec.shuffle_read_bytes += sd.shuffleReadBytes()
                rec.shuffle_write_bytes += sd.shuffleWriteBytes()
                rec.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    @staticmethod
    def _read_phases(rec: OpTrace) -> None:
        if not rec.collects:
            return
        phases = rec.collects[-1].df._jdf.queryExecution().tracker().phases()
        for name in PHASES:
            o = phases.get(name)
            if o.isDefined():
                rec.phases[name] = float(o.get().durationMs())

    def layer_values(self, ops=None) -> dict:
        """Per-layer figures common to every workload, over ``ops``
        (default: all traced operations); counts and bytes are per
        operation, times are medians."""
        ops = self.ops if ops is None else ops
        n = max(len(ops), 1)

        def med(xs):
            xs = [x for x in xs if x is not None]
            return metrics.median(xs) if xs else 0.0

        from tiledb_py_spark import stats

        counters = json.loads(stats.stats_dump(json=True, print_out=False))
        # fragment counters are per read through the array API
        reads = max(sum(1 for o in ops if o.kind in ARRAY_KINDS), 1)
        scanned = counters.get("py.fragments_scanned", 0.0)
        pruned = counters.get("py.fragments_pruned", 0.0)
        live = scanned + pruned
        out = {
            "array.open_ms": med(o.spans.get("array.open") for o in ops),
            "array.build_ms": med(o.build_ms for o in ops
                                  if o.kind in ARRAY_KINDS),
            "qc.compile_ms": med(o.spans.get("qc.compile") for o in ops),
            "fragments.live": live / reads,
            "fragments.scanned": scanned / reads,
            "fragments.pruned": pruned / reads,
            "fragments.prune_ratio": pruned / live if live else 0.0,
            "exec.jobs": sum(o.jobs for o in ops) / n,
            "exec.stages": sum(o.stages for o in ops) / n,
            "exec.tasks": sum(o.tasks for o in ops) / n,
            "exec.job_wall_ms": sum(o.job_wall_ms for o in ops) / n,
            "exec.task_run_ms": sum(o.task_run_ms for o in ops) / n,
            "exec.input_bytes": sum(o.input_bytes for o in ops) / n,
            "exec.shuffle_read_bytes":
                sum(o.shuffle_read_bytes for o in ops) / n,
            "exec.shuffle_write_bytes":
                sum(o.shuffle_write_bytes for o in ops) / n,
            "exec.spill_bytes": sum(o.spill_bytes for o in ops) / n,
            "collect.rows": sum(c.rows for o in ops for c in o.collects) / n,
            "collect.bytes": sum(c.nbytes for o in ops for c in o.collects) / n,
            "collect.driver_ms": med(o.collect_driver_ms for o in ops),
            "datasource.splits": med(o.tasks for o in ops
                                     if o.kind in SOURCE_KINDS),
            "mat.cached_entries": float(max(
                (o.cached_entries for o in ops), default=0)),
        }
        for name in PHASES:
            out[f"catalyst.{name}_ms"] = med(o.phases.get(name) for o in ops)
        return out


# Operation kinds that read through the array API / the data source.
ARRAY_KINDS = {"slice", "points", "reread"}
SOURCE_KINDS = {"source_slice", "merge_read"}


def cached_entries(spark) -> int:
    """Persisted RDDs alive in the session (``_mat`` intermediates)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def manifest_stats(uri: str) -> tuple:
    """``(latest manifest version, its file size in bytes)``."""
    files = sorted(glob.glob(os.path.join(uri, "*", "manifest_v*.json")))
    if not files:
        return 0, 0
    latest = files[-1]
    version = int(os.path.basename(latest)[len("manifest_v"):-len(".json")])
    return version, os.path.getsize(latest)


def dir_usage(path: str) -> tuple:
    """``(bytes, files)`` under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def peak_rss_mb(spark) -> float:
    """High-water resident set of this Python process plus the driver
    JVM (Linux: ``ru_maxrss`` is in KiB, ``VmHWM`` is read from the
    JVM's own status file)."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0
