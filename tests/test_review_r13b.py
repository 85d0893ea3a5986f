"""Round-13 review batch 2: Spark datasource hardening — commit from
task messages only, empty-save guard, domain/column refusals,
schema_version stamping, schema-evolution reads, current-domain clamp,
same-ms LWW tie-break in the streaming-merge group path."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import tiledb_py_spark as tdb
from pyspark.sql import functions as F
from tiledb_py_spark import manifest as mf
from tiledb_py_spark.sources.spark_datasource import register


@pytest.fixture()
def arr(uri, spark):
    pdf = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                        "v": np.arange(10) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"], full_domain=True)
    register(spark)
    return uri


def test_batch_writer_empty_save_publishes_nothing(arr, spark):
    n0 = len(mf.read_manifest(arr).fragments)
    empty = spark.createDataFrame([], "k long, v double")
    empty.write.format("tiledb").mode("append").save(arr)
    m = mf.read_manifest(arr)
    assert len(m.fragments) == n0, "empty save committed a phantom fragment"
    assert all(f.cell_num > 0 for f in m.fragments)


def test_batch_writer_commits_only_message_files(arr, spark):
    """A stray file in the fragment dir (failed/speculative task
    attempt) is not published: commit() trusts the task messages, so a
    torn or duplicate attempt file can neither crash the commit nor
    double rows."""
    from tiledb_py_spark.sources.spark_datasource import TileDBWriter

    w = TileDBWriter(arr)
    batch = pa.record_batch({"k": pa.array([100, 101], pa.int64()),
                             "v": pa.array([1.0, 2.0])})
    msg = w.write(iter([batch]))
    # failed attempt leftovers: a torn (footer-less) file AND a
    # completed duplicate — both must be discarded
    with open(os.path.join(w.frag_dir, "part-torn.parquet"), "wb") as f:
        f.write(b"PAR1 not a footer")
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array([100], pa.int64()),
                             "v": pa.array([9.9])}),
                   os.path.join(w.frag_dir, "part-dup.parquet"))
    w.commit([msg])
    rec = [f for f in mf.read_manifest(arr).fragments
           if f.name == w.frag_name][0]
    assert rec.cell_num == 2, "stray attempt files were published"
    assert sorted(os.listdir(w.frag_dir)) == [msg.file_name]


def test_batch_writer_out_of_domain_refused(uri, spark):
    dim = tdb.Dim(name="k", domain=(0, 99), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(domain=tdb.Domain(dim),
                             attrs=[tdb.Attr(name="v", dtype=np.float64)],
                             sparse=True)
    tdb.Array.create(uri, schema)
    register(spark)
    bad = spark.createDataFrame([(500, 1.0)], "k long, v double")
    n0 = len(mf.read_manifest(uri).fragments)
    with pytest.raises(Exception, match="outside the domain"):
        bad.write.format("tiledb").mode("append").save(uri)
    assert len(mf.read_manifest(uri).fragments) == n0
    # the refused fragment's staged dir was cleaned up (_validate_domain
    # rmtree's it before raising)
    live = {r.name for r in mf.read_manifest(uri).fragments}
    leftover = [d for d in os.listdir(mf.fragments_dir(uri))
                if d not in live]
    assert not leftover, leftover


def test_batch_writer_missing_column_refused(arr, spark):
    part = spark.createDataFrame([(1,)], "k long")   # no attr column
    with pytest.raises(Exception, match="missing schema columns"):
        part.write.format("tiledb").mode("append").save(arr)


def test_writers_stamp_schema_version(arr, spark):
    """Fragments committed via the datasource after a schema evolution
    carry the manifest's schema_version (else the evolved-fill
    fast-path guard stays disabled forever)."""
    ev = tdb.ArraySchemaEvolution()
    ev.add_attribute(tdb.Attr(name="w", dtype=np.float64, nullable=True))
    ev.array_evolve(arr)
    df = spark.createDataFrame([(50, 1.5, 2.5)], "k long, v double, w double")
    df.write.format("tiledb").mode("append").save(arr)
    m = mf.read_manifest(arr)
    assert m.schema_version == 1
    assert m.fragments[-1].schema_version == 1


def test_datasource_reads_schema_evolved_array(arr, spark):
    """format('tiledb') reads an array whose old fragments predate an
    added attribute: missing columns come back as fill (non-nullable)
    or null — the native scan's _fill_evolved semantics — instead of
    'Field not found' crashes."""
    ev = tdb.ArraySchemaEvolution()
    ev.add_attribute(tdb.Attr(name="w", dtype=np.float64, fill=-1.0,
                              nullable=False))
    ev.array_evolve(arr)
    df = spark.createDataFrame([(50, 5.0, 7.0)], "k long, v double, w double")
    df.write.format("tiledb").mode("append").save(arr)
    got = {r.k: (r.v, r.w) for r in
           spark.read.format("tiledb").load(arr).collect()}
    assert len(got) == 11
    assert got[50] == (5.0, 7.0)
    assert got[0] == (0.0, -1.0), "pre-evolution rows must read as fill"
    # parity with the native scan
    native = {r.k: (r.v, r.w) for r in
              tdb.open(arr, spark=spark).dataframe().collect()}
    assert got == native


def test_stream_source_reads_schema_evolved_array(arr, spark, tmp_path):
    ev = tdb.ArraySchemaEvolution()
    ev.add_attribute(tdb.Attr(name="w", dtype=np.float64, nullable=True))
    ev.array_evolve(arr)
    df = spark.createDataFrame([(60, 6.0, 8.0)], "k long, v double, w double")
    df.write.format("tiledb").mode("append").save(arr)
    sink = str(tmp_path / "sink")
    q = (spark.readStream.format("tiledb").load(arr)
         .writeStream.foreachBatch(
             lambda d, _i: d.write.mode("append").parquet(sink))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.k: r.w for r in spark.read.parquet(sink).collect()}
    assert len(got) == 11
    assert got[60] == 8.0 and got[0] is None


def test_datasource_honors_current_domain(uri, spark):
    """The datasource read surface clamps to the schema's current
    domain like the indexer path — the two documented read surfaces
    must agree on the array's contents."""
    from tiledb_py_spark.current_domain import CurrentDomain, NDRectangle

    dim = tdb.Dim(name="k", domain=(0, 99), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(domain=tdb.Domain(dim),
                             attrs=[tdb.Attr(name="v", dtype=np.float64)],
                             sparse=True)
    tdb.Array.create(uri, schema)
    register(spark)
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.arange(20)] = {"v": np.arange(20) * 1.0}
    ev = tdb.ArraySchemaEvolution()
    nd = NDRectangle(None, tdb.Domain(dim))
    nd.set_range(0, 0, 9)
    cd = CurrentDomain(None)
    cd.set_ndrectangle(nd)
    ev.expand_current_domain(cd)
    ev.array_evolve(uri)
    ks = sorted(r.k for r in spark.read.format("tiledb").load(uri).collect())
    assert ks == list(range(10)), "datasource ignored the current domain"
    native = sorted(tdb.open(uri, spark=spark).df[:].index.tolist())
    assert ks == native


def test_group_path_same_ms_lww_manifest_order(uri, spark, tmp_path):
    """Same-millisecond overlapping fragments in the streaming-merge
    group path: LWW ties break by MANIFEST order (commit order), never
    the random uuid name — pinned by renaming fragments so name order
    CONTRADICTS manifest order."""
    pdf1 = pd.DataFrame({"k": np.arange(5, dtype=np.int64),
                         "v": np.full(5, 1.0)})
    tdb.from_pandas(uri, pdf1, index_dims=["k"], full_domain=True)
    pdf2 = pd.DataFrame({"k": np.arange(5, dtype=np.int64),
                         "v": np.full(5, 2.0)})
    tdb.from_pandas(uri, pdf2, index_dims=["k"], mode="append")
    register(spark)

    m = mf.read_manifest(uri)
    ts = m.fragments[0].timestamp_range[0]
    # force: same ms; names sort OPPOSITE to manifest order
    new_names = ["frag_z_first", "frag_a_second"]
    for rec, new in zip(m.fragments, new_names):
        os.rename(mf.fragment_path(uri, rec.name),
                  mf.fragment_path(uri, new))

    def _mutate(man):
        for rec, new in zip(man.fragments, new_names):
            rec.name = new
            rec.timestamp_range = (ts, ts)
    mf.commit(uri, _mutate)

    got = {r.k: r.v for r in
           spark.read.format("tiledb").load(uri).collect()}
    assert got == {i: 2.0 for i in range(5)}, \
        "group path broke same-ms LWW ties by uuid name"
    # parity: the native scan resolves the same way
    native = {r.k: r.v for r in
              tdb.open(uri, spark=spark).dataframe().collect()}
    assert got == native


# -- review batch 3: similarity/layout/stateful hardening -----------------

def test_topk_nan_vector_guard(spark):
    """A NaN-component vector must not occupy the top-k (Spark ranks
    NaN above every double) — brute-force, batch, IVF search, and
    diversity_sample all guard it; NULL vectors keep sort-last."""
    from tiledb_py_spark.operators.similarity import (IVFIndex, batch_topk,
                                                      brute_force_topk,
                                                      diversity_sample)

    rows = [(i, [float(i), 1.0]) for i in range(20)]
    rows.append((99, [float("nan"), 1.0]))
    rows.append((98, None))
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    top = brute_force_topk(df, "v", "vec_id", [19.0, 1.0], k=3).collect()
    assert [r.vec_id for r in top] == [19, 18, 17]
    assert all(not np.isnan(r.score) for r in top)

    q = spark.createDataFrame([(0, [19.0, 1.0])], "qid long, qv array<double>")
    bt = batch_topk(df, "v", "vec_id", q, "qv", "qid", k=3).collect()
    assert [r.vec_id for r in bt] == [19, 18, 17]

    idx = IVFIndex(n_cells=2, n_probe=2).fit(
        df.filter(F.col("vec_id") < 50), "v")
    got = [r.vec_id for r in idx.search(df, "v", "vec_id",
                                        [19.0, 1.0], k=3).collect()]
    assert 99 not in got and 98 not in got

    ds = diversity_sample(df, "v", "vec_id", n=2)
    assert all(r.vec_id != 99 for r in ds.collect())


def test_ivf_l2_metric_final_ranking(spark):
    """An l2 IVF index final-ranks by L2 (a far-but-aligned vector must
    not outrank the true nearest neighbor, which the old cosine
    delegation did)."""
    from tiledb_py_spark.operators.similarity import IVFIndex

    rows = [(1, [1.0, 0.0]),      # true L2 nearest to query [1.1, 0]
            (2, [100.0, 0.0]),    # perfectly aligned but far away
            (3, [0.0, 5.0])]
    rows += [(10 + i, [50.0 + i, 50.0]) for i in range(10)]  # filler
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    idx = IVFIndex(n_cells=2, n_probe=2, metric="l2").fit(df, "v")
    got = [r.vec_id for r in idx.search(df, "v", "vec_id",
                                        [1.1, 0.0], k=2).collect()]
    assert got[0] == 1, f"l2 index ranked by cosine: {got}"


def test_ivf_arrow_assign_ragged_vector(spark):
    """One wrong-length/empty vector in the Arrow assign path (taken
    above ``_EXPR_MAX_CELLS`` cells) maps to a null cell (the expr
    path's behavior) instead of crashing the stage."""
    from tiledb_py_spark.operators.similarity import (_EXPR_MAX_CELLS,
                                                      IVFIndex)

    rng = np.random.RandomState(3)
    good = [(i, rng.randn(4).tolist()) for i in range(200)]
    df = spark.createDataFrame(good + [(900, [1.0]), (901, [])],
                               "vec_id long, v array<double>")
    idx = IVFIndex(n_cells=_EXPR_MAX_CELLS + 8, n_probe=2).fit(
        df.filter(F.col("vec_id") < 500), "v")
    assigned = idx.assign(df, "v")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    out = assigned.collect()
    cells = {r.vec_id: r["__cell"] for r in out}
    assert cells[900] is None and cells[901] is None
    assert all(cells[i] is not None for i in range(200))


def test_zorder_bucket_out_of_bounds_edge(spark):
    """Rows outside caller-supplied bounds clamp to the correct EDGE
    bucket (bigint clamp before the int cast — the old cast-then-clamp
    overflowed and filed max-domain rows under bucket 0)."""
    from tiledb_py_spark.operators.layout import zorder_code

    df = spark.createDataFrame(
        [(0, 0), (50, 50), (10**12, 10**12)], "a long, b long")
    out = zorder_code(df, ["a", "b"], bits=8, bounds={"a": (0, 99),
                                                      "b": (0, 99)},
                      keep_buckets=True).collect()
    by_a = {r.a: r for r in out}
    assert by_a[10**12]["__zb0"] == 255, "out-of-bounds row not at edge"
    assert by_a[0]["__zb0"] == 0
    # monotonic: the giant row's zcode is the maximum
    assert by_a[10**12]["__zcode"] == max(r["__zcode"] for r in out)


def test_running_totals_all_null_user_matches_sql(spark, tmp_path):
    """Stream/batch twin: a user whose values are all NULL reports
    total_value NULL (SQL sum semantics), not pandas' 0.0."""
    import pyarrow as _pa  # noqa: F401 (env guard)
    from tiledb_py_spark.streaming.stateful import running_user_totals

    src = tmp_path / "src"
    src.mkdir()
    pdf = pd.DataFrame({"user_id": [1, 1, 2, 2],
                        "value": [np.nan, np.nan, 1.5, np.nan]})
    pdf.to_parquet(src / "b1.parquet")
    schema = spark.read.parquet(str(src)).schema
    sink = str(tmp_path / "sink")
    q = (running_user_totals(
            spark.readStream.schema(schema).parquet(str(src)))
         .writeStream.outputMode("update")
         .foreachBatch(lambda d, _i: d.write.mode("append").parquet(sink))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.user_id: (r.n_events, r.total_value)
           for r in spark.read.parquet(sink).collect()}
    assert got[1] == (2, None), "all-null user must sum to NULL"
    assert got[2] == (2, 1.5)
