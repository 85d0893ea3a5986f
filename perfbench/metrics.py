"""Pure helpers of the benchmark: the metric catalogue, percentiles and
the tail rule, metric-name validation, order-insensitive result digests
and the result line.  Nothing here touches Spark."""

from __future__ import annotations

import json
import math
import re
import statistics

import numpy as np
import pandas as pd

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

WORKLOADS = ("ingest_lww", "llm_pipeline")

# The operator queries of llm_pipeline, in sweep order: one per operator
# family, including the _mat users (dedup, n-gram, retrieval) and the
# twin-path operators (contamination, bucketing).  Eight, not more: a
# run must stay near a minute on a 4-core host.
PIPELINE_QUERIES = (
    "minhash_dedup", "kn3_ppl", "bm25", "bloom_decontam",
    "asof_forward", "time_resample", "quantile_sketch", "ivf_ann",
)

# (name, unit, better, bound).  Every workload reports every one; "op"
# is the workload's headline operation (see BENCHMARK.json "why").
# Times are CPU seconds of the whole process tree (Python driver, driver
# JVM, Python workers): on a shared 4-core host the wall time of a run
# swings by up to a third with the neighbours' load, its CPU time by
# about half as much, so the times keep the widest bound.  Wall-clock
# figures are per-layer metrics.  Bytes repeat within 1%.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_cpu_ms", "ms", "lower", 0.25),
    ("ops_per_cpu_s", "1/s", "higher", 0.25),
    ("bytes_per_user_byte", "ratio", "lower", 0.05),
)

# (name, unit, better).  Totals and counts are per operation of the
# traced pass unless the name says otherwise; a layer the workload does
# not call reports 0.
_LAYERS = (
    ("session.start_s", "s", "lower"),
    ("array.open_ms", "ms", "lower"),
    ("manifest.versions", "count", "lower"),
    ("manifest.file_bytes", "bytes", "lower"),
    ("array.build_ms", "ms", "lower"),
    ("qc.compile_ms", "ms", "lower"),
    ("fragments.live", "count", "lower"),
    ("fragments.scanned", "count", "lower"),
    ("fragments.pruned", "count", "higher"),
    ("fragments.prune_ratio", "ratio", "higher"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.job_wall_ms", "ms", "lower"),
    ("exec.task_run_ms", "ms", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("collect.rows", "count", "lower"),
    ("collect.bytes", "bytes", "lower"),
    ("collect.driver_ms", "ms", "lower"),
    ("datasource.splits", "count", "lower"),
    ("writer.job_wall_ms", "ms", "lower"),
    ("writer.driver_ms", "ms", "lower"),
    ("writer.bytes_written", "bytes", "lower"),
    ("writer.files_written", "count", "lower"),
    ("consolidate.ms", "ms", "lower"),
    ("consolidate.bytes_rewritten", "bytes", "lower"),
    ("vacuum.ms", "ms", "lower"),
    ("vacuum.fragments_removed", "count", "higher"),
    ("mat.cached_entries", "count", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    # wall clock: what a user waits, but it moves with the host's load
    ("setup.wall_s", "s", "lower"),
    ("op_geomean_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    # memory repeats only within ~15% between runs: a layer figure
    ("peak_rss_mb", "MB", "lower"),
    # the workload-specific end-to-end figures of the untraced pass
    ("ingest.rows_per_s", "1/s", "higher"),
    ("ingest.append_p50_ms", "ms", "lower"),
    ("ingest.merge_read_p50_ms", "ms", "lower"),
    ("ingest.consolidate_s", "s", "lower"),
    ("ingest.bytes_per_user_byte", "ratio", "lower"),
    ("reads.small_p50_ms", "ms", "lower"),
    ("reads.source_p50_ms", "ms", "lower"),
    ("pipeline.sweep_s", "s", "lower"),
    ("pipeline.geomean_s", "s", "lower"),
)

PER_LAYER = _LAYERS + tuple(
    (f"pipeline.{q}.{m}", u, "lower")
    for q in PIPELINE_QUERIES
    for m, u in (("s", "s"), ("build_ms", "ms"), ("exec_ms", "ms"),
                 ("shuffle_bytes", "bytes")))


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric or workload name."""
    if not isinstance(name, str) or not NAME_RE.fullmatch(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not UNIT_RE.fullmatch(unit):
        raise ValueError(f"invalid unit {unit!r}")
    return unit


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


TAIL_LADDER = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs, min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` with at least
    ``min_beyond`` samples above it, as ``(percentile, value)``
    (nearest-rank), or ``None`` when even the median lacks them."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = math.ceil(round(p / 100.0 * n, 9))  # no float ceil creep
        if rank >= 1 and n - rank >= min_beyond:
            return p, float(s[rank - 1])
    return None


def _canonical(pdf: pd.DataFrame, cols) -> pd.DataFrame:
    out = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.astype(str)
    return pd.DataFrame(out)


def digest(pdf: pd.DataFrame, cols) -> tuple:
    """``(rows, order-insensitive hash)`` of the named columns: the sum of
    per-row hashes modulo 2**64, after casting to canonical dtypes so a
    Spark result and a pandas reference of the same rows agree."""
    cols = list(cols)
    if len(pdf) == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(_canonical(pdf, cols), index=False)
    return len(pdf), int(np.sum(h.to_numpy(dtype=np.uint64), dtype=np.uint64))


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, catalogue) -> str:
    """The contract's last stdout line; ``values`` must cover exactly
    the catalogue's names."""
    names = [m[0] for m in catalogue]
    missing = [n for n in names if n not in values]
    extra = [n for n in values if n not in names]
    if missing or extra:
        raise ValueError(f"metrics missing {missing}, unexpected {extra}")
    metrics = {}
    for name, unit, *_ in catalogue:
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is {v}")
        metrics[check_name(name)] = {"value": v, "unit": check_unit(unit)}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
