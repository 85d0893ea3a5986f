"""ingest_lww: appends, narrow reads, last-write-wins merge reads,
deletes and compaction on one sparse array that starts empty.

Each batch mixes new coordinates (above every earlier one) with upserts
of a hot key set, so every fragment overlaps every earlier one near the
hot keys and none elsewhere.  One cycle: four appends alternating
``df.write.format("tiledb")`` and ``from_spark(mode="append")``, a
narrow read through the array API after every second append (first a
``df[lo:hi]`` slice over a recent batch's new keys, which MBR pruning
narrows to the fragments written since, then a point list with a
``QueryCondition``), a full ``format("tiledb")`` merge read, one range
read through ``format("tiledb")`` with the range pushed down, one
retention ``delete_cells`` (batches older than the last ``RETAIN``),
then ``consolidate``, ``vacuum`` and a re-read through the array API.
Every read is compared with an in-memory last-write-wins + delete model
of the batches."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa

import common
import lww
import metrics
import tracing

KEY = "k"
COLUMNS = ["v", "tag", "n"]
NEW_ROWS = 4000
HOT_KEYS = 2000
HOT_ROWS = 1000
HOT_SPAN = 1_000_000
TAGS = np.array(["alpha", "beta", "gamma", "delta"])
CYCLE = ("append_ds", "append_fs", "slice", "append_ds", "append_fs",
         "points", "merge_read", "source_slice", "delete", "consolidate",
         "vacuum", "reread")
APPENDS = ("append_ds", "append_fs")
SLICES = ("slice", "points")
# metadata-only operations of a few ms: their relative noise would
# dominate a geometric mean of latencies, so op_cpu_ms and op_geomean_ms
# leave them out
QUICK = ("delete", "vacuum")
RETAIN = 3
# the warm-up's two lanes; each starts with an append so that its reads
# find data
WARM_LANES = (
    ("append_ds", "slice", "delete", "consolidate", "vacuum", "reread"),
    ("append_fs", "points", "merge_read", "source_slice"))
SLICE_KEYS = 200        # new keys a range read spans
POINTS = 32             # keys of a point read, half of them hot
POINT_MAX_V = 50.0      # a point read keeps cells with v below this
POINT_COND = f"v < {POINT_MAX_V}"
CYCLE_S = 12.0


def schedule(seed: int):
    """Endless seeded cycles; an append carries its batch, a read its
    range or points, a delete its threshold."""
    rng = np.random.RandomState(seed)
    hot = np.sort(rng.choice(HOT_SPAN, HOT_KEYS, replace=False)).astype(np.int64)
    next_key = HOT_SPAN
    batch_no = 0
    recent = []             # new keys of the last RETAIN batches
    while True:
        cycle = []
        for kind in CYCLE:
            op = {"kind": kind, "batch": None, "threshold": None,
                  "range": None, "points": None}
            if kind in APPENDS:
                gaps = rng.randint(1, 1000, NEW_ROWS).astype(np.int64)
                new = next_key + np.cumsum(gaps)
                next_key = int(new[-1]) + 1
                recent = (recent + [new])[-RETAIN:]
                keys = np.concatenate([rng.choice(hot, HOT_ROWS, replace=False), new])
                n = len(keys)
                op["batch"] = pd.DataFrame({
                    KEY: keys,
                    "v": np.round(rng.uniform(0.0, 100.0, n), 6),
                    "tag": TAGS[rng.randint(0, len(TAGS), n)],
                    "n": np.full(n, batch_no, dtype=np.int64)})
                batch_no += 1
            elif kind in ("slice", "source_slice"):
                new = recent[rng.randint(len(recent))]
                i = rng.randint(NEW_ROWS - SLICE_KEYS)
                op["range"] = (int(new[i]), int(new[i + SLICE_KEYS - 1]))
            elif kind == "points":
                new = recent[rng.randint(len(recent))]
                op["points"] = sorted(set(
                    rng.choice(new, POINTS // 2, replace=False).tolist()
                    + rng.choice(hot, POINTS // 2, replace=False).tolist()))
            elif kind == "delete":
                # retention: drop cells last written RETAIN or more
                # batches ago
                op["threshold"] = batch_no - RETAIN
            cycle.append(op)
        yield cycle


def _cond(op) -> str:
    # A condition on the batch number holds for every older version of a
    # cell whenever it holds for the newest one.
    return f"n < {op['threshold']}"


def expected(model: lww.LwwModel, op) -> pd.DataFrame:
    """The model's answer to a narrow read."""
    f = model.frame()
    if op["range"] is not None:
        lo, hi = op["range"]
        return f[(f[KEY] >= lo) & (f[KEY] <= hi)]
    return f[f[KEY].isin(op["points"]) & (f["v"] < POINT_MAX_V)]


def create(uri: str) -> None:
    import tiledb_py_spark as tdb

    seed_row = pd.DataFrame({KEY: np.array([0], dtype=np.int64), "v": [0.0],
                             "tag": ["alpha"], "n": np.array([0], dtype=np.int64)})
    tdb.from_pandas(uri, seed_row, index_dims=[KEY], mode="schema_only",
                    full_domain=True)


class Driver:
    """Runs one cycle stream against one array and its model."""

    def __init__(self, spark, uri: str, out: common.Outcome):
        self.spark = spark
        self.uri = uri
        self.out = out
        self.model = lww.LwwModel(KEY, COLUMNS)
        self.lat = {}          # kind -> wall seconds
        self.cpu = {}          # kind -> CPU seconds
        self.rows_appended = 0
        self.bytes_ratio = []
        self.writer = []        # (job wall ms, driver ms, bytes, files)
        self.compaction = []    # (consolidate ms, bytes rewritten)
        self.vacuums = []       # (vacuum ms, fragments removed)

    def _check(self, pdf: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
        cols = [KEY, *COLUMNS]
        self.out.check(metrics.digest(pdf, cols) == metrics.digest(want, cols),
                       what)

    def run_op(self, op, tracer) -> float:
        import tiledb_py_spark as tdb
        from pyspark.sql import functions as F

        kind = op["kind"]
        spark, uri = self.spark, self.uri
        traced = tracer.enabled
        before = tracing.dir_usage(uri) if traced else None
        frags = set(_fragments(uri)) if traced and kind == "consolidate" else None
        sdf = spark.createDataFrame(op["batch"]) if kind in APPENDS else None
        compile_ms = None
        if traced and kind in ("delete", "points"):
            A = tdb.open(uri, spark=spark)
            cond = _cond(op) if kind == "delete" else POINT_COND
            _, s, _ = common.timed(A._compile_cond, cond)
            compile_ms = s * 1e3
        result = None
        with tracer.op(kind) as rec:
            if kind == "append_ds":
                sdf.write.format("tiledb").mode("append").save(uri)
            elif kind == "append_fs":
                tdb.from_spark(uri, sdf, mode="append")
            elif kind == "merge_read":
                result = spark.read.format("tiledb").load(uri).toPandas()
            elif kind == "slice":
                with rec.span("array.open"):
                    A = tdb.open(uri, spark=spark)
                lo, hi = op["range"]
                result = A.df[lo:hi]
            elif kind == "points":
                with rec.span("array.open"):
                    A = tdb.open(uri, spark=spark)
                result = A.query(cond=POINT_COND).df[op["points"]]
            elif kind == "source_slice":
                lo, hi = op["range"]
                result = (spark.read.format("tiledb").load(uri)
                          .filter(F.col(KEY).between(lo, hi)).toPandas())
            elif kind == "delete":
                with rec.span("array.open"):
                    A = tdb.open(uri, "d", spark=spark)
                A.delete_cells(_cond(op))
            elif kind == "consolidate":
                tdb.consolidate(uri, spark=spark)
            elif kind == "vacuum":
                removed = tdb.vacuum(uri)
            elif kind == "reread":
                with rec.span("array.open"):
                    A = tdb.open(uri, spark=spark)
                result = A.dataframe().toPandas()
        if compile_ms is not None:
            rec.spans["qc.compile"] = compile_ms
        self.lat.setdefault(kind, []).append(rec.wall_s)
        self.cpu.setdefault(kind, []).append(rec.cpu_s)

        # model, checks and layer bookkeeping, outside the timed region
        if kind in APPENDS:
            self.model.write(op["batch"])
            self.rows_appended += len(op["batch"])
            if traced:
                after = tracing.dir_usage(uri)
                self.writer.append((rec.job_wall_ms,
                                    rec.wall_s * 1e3 - rec.job_wall_ms,
                                    after[0] - before[0], after[1] - before[1]))
        elif kind == "delete":
            thr = op["threshold"]
            self.model.delete(lambda f: f["n"] < thr)
        elif kind == "consolidate":
            if traced:
                new = set(_fragments(uri)) - frags
                self.compaction.append((rec.wall_s * 1e3, sum(
                    tracing.dir_usage(p)[0] for p in new)))
        elif kind == "vacuum":
            if traced:
                self.vacuums.append((rec.wall_s * 1e3, removed))
        elif result is not None:
            if KEY not in result.columns:       # df[] restores the index
                result = result.reset_index()
            want = (self.model.frame() if op["range"] is None
                    and op["points"] is None else expected(self.model, op))
            self._check(result, want, f"{kind} after {self.rows_appended} rows")
        if kind == "delete" and len(self.model):
            # disk over live data just before compaction
            user = pa.Table.from_pandas(self.model.frame(),
                                        preserve_index=False).nbytes
            self.bytes_ratio.append(tracing.dir_usage(uri)[0] / user)
        return rec.wall_s

    def ms(self, *kinds):
        return [x * 1e3 for k in kinds for x in self.lat.get(k, [])]

    def cpu_ms(self, *kinds):
        return [x * 1e3 for k in kinds for x in self.cpu.get(k, [])]

    def busy_s(self) -> float:
        return sum(self.ms(*self.lat)) / 1e3


def _fragments(uri: str) -> list:
    """Paths of the fragment directories on disk."""
    from tiledb_py_spark import manifest as mf

    d = mf.fragments_dir(uri)
    return [os.path.join(d, n) for n in os.listdir(d)] if os.path.isdir(d) else []


def append_p50(d: Driver) -> float:
    return sum(metrics.median(d.ms(k)) for k in APPENDS) / len(APPENDS)


def run(ctx) -> common.Outcome:
    out = common.Outcome()
    plain = tracing.Tracer(ctx.spark, enabled=False)

    # set-up: a fresh empty array SETUP_REPS times (median), then a
    # warm-up that runs each kind of operation once, cold
    builds = []
    for i in range(common.SETUP_REPS):
        _, s, cpu = common.timed(create, ctx.path("arrays", f"lww-{i}"))
        builds.append((s, cpu))

    first = {}
    for op in next(schedule(ctx.seed + 1)):
        first.setdefault(op["kind"], op)

    def warm_lane(name, kinds):
        scratch = ctx.path("arrays", name)
        create(scratch)
        d = Driver(ctx.spark, scratch, common.Outcome())
        for kind in kinds:
            d.run_op(first[kind], plain)
        return d

    def warm_up():
        # Two scratch arrays in two threads: most of a cold operation is
        # class loading, compilation and worker start-up, which overlap.
        with ThreadPoolExecutor(len(WARM_LANES)) as pool:
            lanes = [pool.submit(warm_lane, f"warm-{i}", kinds)
                     for i, kinds in enumerate(WARM_LANES)]
            return [lane.result() for lane in lanes]

    warm, warm_s, warm_cpu = common.timed(warm_up)
    out.setup_s = (ctx.session_cpu_s + metrics.median(c for _, c in builds)
                   + warm_cpu)
    out.setup_wall_s = (ctx.session_s + metrics.median(s for s, _ in builds)
                        + warm_s)
    for d in warm:
        out.attempted += d.out.attempted
        out.failed += d.out.failed
        out.errors += d.out.errors
    out.details["host_start"] = common.host_context(ctx.spark)

    a = Driver(ctx.spark, ctx.path("arrays", "lww-0"), out)
    runs = [(a, plain)]
    tracer = None
    if ctx.trace:
        tracer = tracing.Tracer(ctx.spark, enabled=True)
        b = Driver(ctx.spark, ctx.path("arrays", "lww-1"), out)
        runs.append((b, tracer))
    try:
        ops = common.fixed_ops(ctx.seconds, CYCLE_S, schedule(ctx.seed))
        for i, op in enumerate(ops):
            for d, t in common.in_turn(i, runs):
                d.run_op(op, t)
    finally:
        if tracer is not None:
            tracer.close()
    appends = a.ms(*APPENDS)
    timed_kinds = [k for k in a.lat if k not in QUICK]
    out.e2e = {
        "op_cpu_ms": metrics.geomean(a.cpu_ms(*timed_kinds)),
        "ops_per_cpu_s": len(ops) / (sum(a.cpu_ms(*a.cpu)) / 1e3),
        "bytes_per_user_byte": metrics.median(a.bytes_ratio),
    }
    detail = {
        "setup.wall_s": out.setup_wall_s,
        "op_geomean_ms": metrics.geomean(a.ms(*timed_kinds)),
        "ops_per_s": len(ops) / a.busy_s(),
        "peak_rss_mb": tracing.peak_rss_mb(ctx.spark),
        "ingest.rows_per_s": a.rows_appended / (sum(appends) / 1e3),
        # mean of the two append paths' medians: the median of the
        # pooled samples would sit in the gap between the two paths
        "ingest.append_p50_ms": append_p50(a),
        "ingest.merge_read_p50_ms": metrics.median(a.ms("merge_read")),
        "ingest.consolidate_s": metrics.median(a.ms("consolidate")) / 1e3,
        "ingest.bytes_per_user_byte": out.e2e["bytes_per_user_byte"],
        "reads.small_p50_ms": metrics.median(a.ms(*SLICES)),
        "reads.source_p50_ms": metrics.median(a.ms("source_slice")),
    }
    out.details.update({
        "metrics": detail,
        "samples": {k: common.percentile_summary(a.ms(k)) for k in
                    ("append_ds", "append_fs", "slice", "points",
                     "merge_read", "source_slice", "consolidate", "reread")},
        "rows_live": len(a.model),
        "setup_builds_s": [round(s, 4) for s, _ in builds],
        "warmup_s": round(warm_s, 4),
        "warmup_ms": {k: round(v[0] * 1e3, 1) for d in warm
                      for k, v in d.lat.items()},
    })

    if ctx.trace:
        layers = common.zero_layers()
        layers.update(tracer.layer_values())
        versions, mbytes = tracing.manifest_stats(b.uri)
        w = np.array(b.writer, dtype=float).reshape(-1, 4)
        c = np.array(b.compaction, dtype=float).reshape(-1, 2)
        v = np.array(b.vacuums, dtype=float).reshape(-1, 2)
        layers.update(detail)
        layers.update({
            "session.start_s": ctx.session_s,
            "manifest.versions": versions,
            "manifest.file_bytes": mbytes,
            "writer.job_wall_ms": metrics.median(w[:, 0]),
            "writer.driver_ms": metrics.median(w[:, 1]),
            "writer.bytes_written": float(w[:, 2].mean()),
            "writer.files_written": float(w[:, 3].mean()),
            "consolidate.ms": metrics.median(c[:, 0]),
            "consolidate.bytes_rewritten": float(c[:, 1].mean()),
            "vacuum.ms": metrics.median(v[:, 0]),
            "vacuum.fragments_removed": float(v[:, 1].mean()),
            "trace.overhead_frac": b.busy_s() / a.busy_s() - 1.0,
        })
        out.layers = layers
    out.details["host_end"] = common.host_context(ctx.spark)
    return out
