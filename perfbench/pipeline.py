"""llm_pipeline: eight ``__spark_entry__.queries()`` operator pipelines
(``metrics.PIPELINE_QUERIES``: dedup, n-gram perplexity, retrieval,
decontamination, as-of join, resampling, sketches, IVF search) run
through ``toPandas`` in one long-lived session over seeded sf0.01
tables.

The session is warmed with the first query; each measured sweep then
runs every query once, in order.  A traced run adds one more sweep that
does each query twice in a row, untraced and traced (see
``common.in_turn``): a query's first run in a session pays for
compiling its plans, so the traced runs are compared with untraced
runs that are not first either.  Each query's first result is compared
with its ``oracle_sql()`` on DuckDB in exact mode, using the comparison
of ``tools/check_correctness.py`` (minhash_dedup: see
``Oracle.minhash_ok``)."""

from __future__ import annotations

import itertools
import os

import pyarrow.parquet as pq

import common
import metrics
import tracing

SF = 0.01
TABLES = ("documents", "events", "embeddings", "lineitem")
SWEEP_S = 20.0


def redirect_fixtures(entry, root: str) -> None:
    """Build the array fixtures some queries use (the IVF query's
    embeddings array) fresh under ``root``, instead of in the shared
    cache ``__spark_entry__`` keeps outside the checkout."""

    def fixture(sf_dir, name, build):
        uri = os.path.join(root, name)
        if not os.path.exists(uri):
            build(uri)
        return uri

    entry._fixture_array = fixture


class Oracle:
    def __init__(self, entry, sf_dir: str):
        import check_correctness as cc
        import duckdb

        self.cc = cc
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in cc.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.checked = set()

    def check(self, name: str, pdf, out: common.Outcome) -> None:
        """Check a query's first result only: later sweeps recompute the
        same answer."""
        if name in self.checked:
            out.attempted += 1
            return
        self.checked.add(name)
        if name == "minhash_dedup":
            out.check(self.minhash_ok(pdf), f"{name}: injected copies kept")
            return
        want = self.con.execute(self.sql[name]).fetchdf()
        ok, msg = self.cc.compare(pdf, want, exact=True)
        if not ok:
            # Seeded inputs occasionally put a rounded float on a tie
            # that the two engines' last-ulp sums break differently; such
            # a result still agrees within the tolerant comparison.
            ok, tolerant_msg = self.cc.compare(pdf, want, exact=False)
            if ok:
                out.details.setdefault("exact_misses", []).append(f"{name}: {msg}")
            else:
                msg = tolerant_msg
        out.check(ok, f"{name}: {msg}")

    def minhash_ok(self, pdf) -> bool:
        """The minhash_dedup oracle costs ~14 s of DuckDB at sf0.01
        (``tools/check_correctness.py --exact`` keeps it); in a run the
        query's own construction is checked instead: it dedups the
        documents plus exact copies of docs 0-49 under ids + 1e9, so no
        original survives together with its copy, ids stay unique, and
        the ~3% injected near-duplicates bound what is removed."""
        ids = set(pdf["doc_id"].tolist())
        docs = self.con.execute("SELECT count(*) FROM documents").fetchone()[0]
        return (len(ids) == len(pdf)
                and not any(i in ids and i + 1_000_000_000 in ids
                            for i in range(50))
                and 0.9 * docs <= len(ids) <= docs + 50)


def run_query(ctx, qs, name, sf_dir, oracle, out, tracer, recs) -> None:
    """Build and collect one query; appends its ``OpTrace`` to ``recs``."""
    with tracer.op(name) as rec:
        with rec.span("build"):
            df = qs[name](ctx.spark, sf_dir)
        pdf = df.toPandas()
    if tracer.enabled:
        rec.cached_entries = tracing.cached_entries(ctx.spark)
    recs.setdefault(name, []).append(rec)
    oracle.check(name, pdf, out)


def busy_s(recs) -> float:
    return sum(r.wall_s for rs in recs.values() for r in rs)


def run(ctx) -> common.Outcome:
    import tiledb_py_spark as tdb
    import __spark_entry__ as entry

    out = common.Outcome()
    sf_dir = common.generate(ctx.seed, SF, ctx.dir("data"), TABLES)
    fixtures = ctx.dir("fixtures")
    redirect_fixtures(entry, fixtures)
    qs = entry.queries()
    oracle = Oracle(entry, sf_dir)
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()

    # set-up: the embeddings array fixture SETUP_REPS times (median),
    # then one warm-up query
    builds = []
    for i in range(common.SETUP_REPS):
        uri = ctx.path("setup", f"embeddings-{i}")
        _, s, cpu = common.timed(tdb.from_pandas, uri, emb,
                                 index_dims=["vec_id"])
        builds.append((s, cpu))
    plain = tracing.Tracer(ctx.spark, enabled=False)

    def warm_up():
        qs[metrics.PIPELINE_QUERIES[0]](ctx.spark, sf_dir).toPandas()

    _, warm_s, warm_cpu = common.timed(warm_up)
    out.setup_s = (ctx.session_cpu_s + metrics.median(c for _, c in builds)
                   + warm_cpu)
    out.setup_wall_s = (ctx.session_s + metrics.median(s for s, _ in builds)
                        + warm_s)
    out.details["host_start"] = common.host_context(ctx.spark)

    times = {}
    names = common.fixed_ops(ctx.seconds, SWEEP_S,
                             itertools.repeat(metrics.PIPELINE_QUERIES))
    for name in names:
        run_query(ctx, qs, name, sf_dir, oracle, out, plain, times)
    if ctx.trace:
        tracer = tracing.Tracer(ctx.spark, enabled=True)
        untraced, traced = {}, {}
        runs = [(plain, untraced), (tracer, traced)]
        try:
            for i, name in enumerate(metrics.PIPELINE_QUERIES):
                for t, sink in common.in_turn(i, runs):
                    run_query(ctx, qs, name, sf_dir, oracle, out, t, sink)
        finally:
            tracer.close()
    per_query = {q: metrics.median(r.wall_s for r in rs)
                 for q, rs in times.items()}
    disk, _files = tracing.dir_usage(os.path.join(fixtures, "embeddings"))
    all_ms = [r.wall_s * 1e3 for rs in times.values() for r in rs]
    cpu_ms = [r.cpu_s * 1e3 for rs in times.values() for r in rs]
    out.e2e = {
        "op_cpu_ms": metrics.geomean(cpu_ms),
        "ops_per_cpu_s": len(cpu_ms) / (sum(cpu_ms) / 1e3),
        "bytes_per_user_byte": disk / pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet")).nbytes,
    }
    detail = {
        "setup.wall_s": out.setup_wall_s,
        "op_geomean_ms": metrics.geomean(all_ms),
        "ops_per_s": len(all_ms) / (sum(all_ms) / 1e3),
        "peak_rss_mb": tracing.peak_rss_mb(ctx.spark),
        "pipeline.sweep_s": sum(per_query.values()),
        "pipeline.geomean_s": metrics.geomean(per_query.values()),
    }
    out.details.update({
        "metrics": detail,
        "samples": {"query_ms": common.percentile_summary(all_ms)},
        "per_query_s": {q: round(s, 4) for q, s in per_query.items()},
        "cached_entries_end": tracing.cached_entries(ctx.spark),
        "setup_builds_s": [round(s, 4) for s, _ in builds],
        "warmup_s": round(warm_s, 4),
    })

    if ctx.trace:
        layers = common.zero_layers()
        layers.update(tracer.layer_values())
        layers.update(detail)
        for rec in tracer.ops:
            q = rec.kind
            layers[f"pipeline.{q}.s"] = per_query[q]
            layers[f"pipeline.{q}.build_ms"] = rec.spans["build"]
            layers[f"pipeline.{q}.exec_ms"] = rec.job_wall_ms
            layers[f"pipeline.{q}.shuffle_bytes"] = float(rec.shuffle_read_bytes)
        layers.update({
            "session.start_s": ctx.session_s,
            "trace.overhead_frac": busy_s(traced) / busy_s(untraced) - 1.0,
        })
        out.layers = layers
    out.details["host_end"] = common.host_context(ctx.spark)
    return out
