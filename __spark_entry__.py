"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator from SURVEY.md §2 (or a
phase-E extension operator) through the ``tiledb_py_spark`` engine;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL the driver runs
side-by-side at sf=0.01.  Non-SQL-expressible ops (hash-defined signatures)
have no oracle entry and get the weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


_READ_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # cache the (lazy) DataFrame per (session, table): re-creating it per
    # gate call re-runs parquet schema inference on the driver every time.
    # Keyed on applicationId (stable and never recycled, unlike id(spark)
    # which CPython can reuse after a stopped session is collected);
    # assumes the sf_dir contents are immutable within one application,
    # which holds for the driver's read-only testdata
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _READ_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _READ_CACHE[key] = df
    return df


def _query_vec(sf_dir: str, vec_id: int = 0) -> list:
    """The fixed query embedding, fetched DRIVER-SIDE from the parquet
    file (pyarrow row filter, ~20 ms) instead of a Spark
    filter+collect job (~0.2-0.3 s of scheduling for one row).  Returns
    the identical Python floats the collect returned (float32 -> Python
    float is exact both ways; equality asserted when this replaced the
    collect in r14).  Read fresh on every call — the bench rebuilds
    each query per timed run and nothing may be memoized across runs.

    Contract (why bypassing the Spark reader is safe here): every
    consumer compares this vector against the SAME single-file
    ``embeddings.parquet`` read via ``_t(...)`` — there is no separate
    array build that could drift from the parquet.  If the fixture ever
    becomes multi-file or LWW-updatable, route this back through the
    datasource (the r13 filter+collect form this replaced)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"],
                      filters=[("vec_id", "==", vec_id)])
    return t.column("embedding")[0].as_py()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; read nanos as long and convert to microsecond NTZ."""
    from pyspark.sql import types as T

    key = (spark.sparkContext.applicationId, sf_dir, "__events")
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    e = _t(spark, sf_dir, "events")
    if isinstance(e.schema["ts"].dataType, T.LongType):
        e = e.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    _READ_CACHE[key] = e
    return e


def _np_dtypes(df: DataFrame) -> dict:
    from tiledb_py_spark.sources.dataframe_ import _spark_to_np

    out = {}
    for f in df.schema.fields:
        try:
            out[f.name] = _spark_to_np(f.dataType)
        except TypeError:
            pass
    return out


def _qc(df: DataFrame, expr: str):
    """Filter through the engine's QueryCondition compiler (P5-P9)."""
    from tiledb_py_spark.functions.query_condition import compile_condition

    return df.filter(compile_condition(expr, columns=set(df.columns),
                                       dtypes=_np_dtypes(df)))


# ---------------------------------------------------------------------------
# engine compatibility surface (SURVEY.md §2.1-2.3)
# ---------------------------------------------------------------------------

def q_qc_filter(spark, sf_dir):
    """P5/P6: QueryCondition comparisons + boolean combinators."""
    li = _t(spark, sf_dir, "lineitem")
    return (_qc(li, "l_quantity > 45.0 and l_discount <= 0.02")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))


def q_qc_in_chain(spark, sf_dir):
    """P7 set membership + chained comparison (a < x < b)."""
    o = _t(spark, sf_dir, "orders")
    return (_qc(o, "o_orderpriority in ['1-URGENT', '2-HIGH'] and 1000.0 < o_totalprice < 50000.0")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))


def q_qc_datetime(spark, sf_dir):
    """P9: dtype-directed datetime value casting in conditions."""
    o = _t(spark, sf_dir, "orders")
    return (_qc(o, "o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01' and o_orderstatus != 'F'")
            .select("o_orderkey", "o_orderdate", "o_orderstatus"))


def q_multi_range(spark, sf_dir):
    """S4 multi_index: union of inclusive ranges + point list per dim."""
    from tiledb_py_spark.plans import DimRanges, ranges_to_predicate

    li = _t(spark, sf_dir, "lineitem")
    ranges = [DimRanges(name="l_orderkey",
                        intervals=[(1, 100), (500, 600)],
                        points=[1000, 2000, 3000])]
    return (li.filter(ranges_to_predicate(ranges))
            .select("l_orderkey", "l_linenumber", "l_quantity"))


def q_projection_pushdown(spark, sf_dir):
    """P1/P2: attribute/dim projection (column pruning reaches the scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_extendedprice").filter(F.col("l_extendedprice") > 90000.0)


def q_agg_whole_selection(spark, sf_dir):
    """A1-A5: whole-selection aggregates composed with a condition
    (the reference's PyAgg channel semantics, core.cc:300-583)."""
    li = _qc(_t(spark, sf_dir, "lineitem"), "l_returnflag == 'R'")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.avg("l_discount"), 6).alias("mean_disc"),
    )


def q_nonempty_domain(spark, sf_dir):
    """A8: per-dim (min, max) over written cells."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(F.min("l_orderkey").alias("lo_orderkey"),
                  F.max("l_orderkey").alias("hi_orderkey"),
                  F.min("l_linenumber").alias("lo_linenumber"),
                  F.max("l_linenumber").alias("hi_linenumber"))


def q_unique_dim_values(spark, sf_dir):
    """A9: distinct coordinate values."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag").distinct().orderBy("l_returnflag")


def q_array_range_read(spark, sf_dir):
    """S1/S3/S4 through the ARRAY storage path: lineitem ingested as a
    sparse array (parquet fragments + manifest), multi_index range read."""
    uri = _lineitem_array(spark, sf_dir)
    import tiledb_py_spark as tdb
    from tiledb_py_spark.plans import QueryPlan, DimRanges

    A = tdb.open(uri, spark=spark)
    plan = QueryPlan(dim_ranges=[DimRanges(name="l_orderkey", intervals=[(100, 400)])],
                     attrs=["l_quantity", "l_extendedprice"], order="U")
    return (A._execute(plan)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))


def q_array_sql(spark, sf_dir):
    """SQL-native surface over the ARRAY storage path: the array exposed
    as a temp view, a plain ``spark.sql`` aggregation running against the
    pruned fragment scan (pushdown flows through the view)."""
    uri = _lineitem_array(spark, sf_dir)
    import tiledb_py_spark as tdb

    A = tdb.open(uri, spark=spark)
    A.create_view("li_arr")
    return spark.sql("""
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_extendedprice), 2) AS avg_price
        FROM li_arr
        WHERE l_orderkey < 5000
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


def q_array_cond_agg(spark, sf_dir):
    """S1 + P5 + A2/A3 through the array path: condition + aggregates."""
    uri = _lineitem_array(spark, sf_dir)
    import tiledb_py_spark as tdb
    from tiledb_py_spark.plans import QueryPlan

    A = tdb.open(uri, spark=spark)
    plan = QueryPlan(dim_ranges=[], cond=A._compile_cond("l_tax > 0.05"), order="U")
    df = A._execute(plan)
    return df.agg(F.count(F.lit(1)).alias("cnt"),
                  F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                  F.round(F.max("l_extendedprice"), 2).alias("max_price"))


def _fixture_array(sf_dir, name: str, build) -> str:
    """Crash-safe, staleness-safe /tmp fixture cache shared by every
    array-fixture builder.

    * crash safety: ``build(path)`` constructs the fixture at a scratch
      path that is atomically renamed into place — ``array_exists``
      turns true on a multi-write fixture's FIRST write, so the old
      if-exists-skip pattern treated a killed half-build as finished
      forever (every later run red on correct code until /tmp wiped).
    * staleness: a fingerprint file records the ABSOLUTE sf_dir and the
      newest source-parquet mtime; pointing SPARK_GRAFT_SF_DIR at a
      different directory with the same basename, or regenerating the
      testdata in place, rebuilds instead of silently comparing OLD
      arrays against the NEW parquet oracle.
    """
    import shutil

    key = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/tdbps_arrays/{key}"
    uri = os.path.join(root, name)
    fp_file = uri + ".fingerprint"
    newest = max((os.path.getmtime(os.path.join(sf_dir, f))
                  for f in os.listdir(sf_dir) if f.endswith(".parquet")),
                 default=0.0)
    fp = f"{os.path.abspath(sf_dir)}|{newest:.6f}"
    try:
        if os.path.exists(uri) and open(fp_file).read() == fp:
            return uri
    except OSError:
        pass
    shutil.rmtree(uri, ignore_errors=True)
    try:
        os.remove(fp_file)
    except FileNotFoundError:
        pass
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".building-{name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, uri)
    with open(fp_file + ".tmp", "w") as f:
        f.write(fp)
    os.replace(fp_file + ".tmp", fp_file)
    return uri


def _lineitem_array(spark, sf_dir) -> str:
    """Ingest lineitem into an array once per sf (cached in /tmp)."""
    import tiledb_py_spark as tdb

    def build(uri):
        df = _t(spark, sf_dir, "lineitem")
        tdb.from_spark(uri, df, index_dims=["l_orderkey", "l_linenumber"])

    return _fixture_array(sf_dir, "lineitem", build)


def q_array_time_slice(spark, sf_dir):
    """Datetime-dimension array: orders keyed by (o_orderdate, o_orderkey),
    multi_index slice by date strings (datetime dim semantics, S4 + §1.3)."""
    import tiledb_py_spark as tdb
    from tiledb_py_spark.plans import DimRanges, QueryPlan
    import numpy as np

    uri = _orders_time_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    plan = QueryPlan(dim_ranges=[DimRanges(name="o_orderdate", intervals=[(
        np.datetime64("1996-01-01", "us"), np.datetime64("1996-12-31", "us"))])],
        order="U")
    return (A._execute(plan)
             .select("o_orderkey", "o_orderdate", "o_totalprice"))


def _orders_time_array(spark, sf_dir) -> str:
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "orders")
               .select("o_orderdate", "o_orderkey", "o_totalprice").toPandas())
        # day-precision dates: use a us-unit dim (TimestampNTZ storage).
        # from_pandas now preserves the pandas unit, and the default ns
        # would be int64-stored (raw counts on the Spark surface).
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        tdb.from_pandas(uri, pdf, index_dims=["o_orderdate", "o_orderkey"])

    return _fixture_array(sf_dir, "orders_time", build)


def _lww_array(spark, sf_dir) -> str:
    """part-based array written TWICE with overlapping coordinates:
    p_partkey < 100 rows are overwritten with retailprice + 1000."""
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "part")
               .select("p_partkey", "p_retailprice").toPandas())
        tdb.from_pandas(uri, pdf, index_dims=["p_partkey"])
        upd = pdf[pdf["p_partkey"] < 100].copy()
        upd["p_retailprice"] = upd["p_retailprice"] + 1000.0
        tdb.from_pandas(uri, upd, index_dims=["p_partkey"], mode="append")

    return _fixture_array(sf_dir, "part_lww", build)


def q_datasource_lww(spark, sf_dir):
    """format('tiledb') read over overlapping fragments on a no-duplicates
    array: the overlapping fragments form one merge split whose read
    task anti-joins each fragment against the newer ones' coordinates
    (spark_datasource.py read path); oracle recomputes the overwrite."""
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)
    uri = _lww_array(spark, sf_dir)
    df = spark.read.format("tiledb").load(uri)
    return (df.select("p_partkey",
                      F.round("p_retailprice", 2).alias("price"))
              .orderBy("p_partkey"))


def _lww_many_array(spark, sf_dir) -> str:
    """Hot-key upsert pattern: 50 appends all overwriting p_partkey < 100
    (update i writes retailprice + 1000 + i), on top of a full base write.
    51 mutually-overlapping fragments in one overlap component, which the
    scan merges in one task reading every file once
    (spark_datasource._read_group)."""
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "part")
               .select("p_partkey", "p_retailprice").toPandas())
        tdb.from_pandas(uri, pdf, index_dims=["p_partkey"])
        upd = pdf[pdf["p_partkey"] < 100].copy()
        for i in range(1, 51):
            u = upd.copy()
            u["p_retailprice"] = upd["p_retailprice"] + 1000.0 + i
            tdb.from_pandas(uri, u, index_dims=["p_partkey"], mode="append")

    return _fixture_array(sf_dir, "part_lww_many", build)


def q_datasource_lww_many(spark, sf_dir):
    """format('tiledb') over 51 mutually-overlapping fragments: the
    merge split must produce the same last-write-wins answer with each
    file read once."""
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)
    uri = _lww_many_array(spark, sf_dir)
    df = spark.read.format("tiledb").load(uri)
    return (df.select("p_partkey",
                      F.round("p_retailprice", 2).alias("price"))
              .orderBy("p_partkey"))


def q_datasource_read(spark, sf_dir):
    """S1 via the custom Spark data source: spark.read.format('tiledb')
    with filter pushdown into fragment/row-group pruning."""
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)
    uri = _lineitem_array(spark, sf_dir)
    df = spark.read.format("tiledb").load(uri)
    return (df.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") <= 2000)
                      & (F.col("l_quantity") > 30.0))
              .select("l_orderkey", "l_linenumber", "l_quantity"))


def _part_delete_array(spark, sf_dir) -> str:
    """part ingested as a sparse array, then a mode-'d' delete query
    (S15, reference core.cc:1474-1479 / tests/test_query_condition.py:
    1074-1226) records an anti-predicate fragment, and CONSOLIDATION
    materializes the removal — the gate reads back AFTER compaction so
    the artifact proves deletes survive it."""
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "part")
               .select("p_partkey", "p_retailprice", "p_size").toPandas())
        tdb.from_pandas(uri, pdf, index_dims=["p_partkey"])
        with tdb.open(uri, "d", spark=spark) as A:
            A.delete_cells("p_retailprice > 950.0 and p_size < 25")
        tdb.consolidate(uri, spark=spark)

    return _fixture_array(sf_dir, "part_delete", build)


def q_delete_qc(spark, sf_dir):
    """S15 delete query end-to-end: mode-'d' anti-predicate fragment ->
    consolidation -> full read-back; the oracle replays NOT(cond) on the
    source table, so surviving rows must be exactly the complement."""
    import tiledb_py_spark as tdb

    uri = _part_delete_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    return (A.dataframe()
            .select("p_partkey",
                    F.round("p_retailprice", 2).alias("price"),
                    "p_size")
            .orderBy("p_partkey"))


def _nation_direct_array(spark, sf_dir) -> str:
    """S13 write_direct substrate: nation's region keys written as a
    dense vector in TWO write_direct calls — an ingest of the first 15
    and a mode='append' of the rest (new fragment with a shifted dim
    range, reference dense_array.py:633-730)."""
    import numpy as np

    import tiledb_py_spark as tdb

    def build(uri):
        vals = (_t(spark, sf_dir, "nation")
                .select("n_nationkey", "n_regionkey")
                .orderBy("n_nationkey").toPandas()["n_regionkey"]
                .to_numpy().astype("int64"))
        dom = tdb.Domain(tdb.Dim(name="n_nationkey", domain=(0, len(vals) - 1),
                                 tile=len(vals), dtype=np.int64))
        schema = tdb.ArraySchema(
            domain=dom, sparse=False,
            attrs=[tdb.Attr(name="n_regionkey", dtype=np.int64, fill=-1)])
        tdb.Array.create(uri, schema)
        with tdb.open(uri, "w", spark=spark) as A:
            A.write_direct(vals[:15])
            A.write_direct(vals[15:], append_dim=0, mode="append")

    return _fixture_array(sf_dir, "nation_direct", build)


def q_write_direct_append(spark, sf_dir):
    """S13 end-to-end: write_direct ingest + dim-append, whole-domain
    Spark read-back — values must equal the source table, proving the
    append fragment landed at nonempty_domain+1 with no overlap."""
    import tiledb_py_spark as tdb

    uri = _nation_direct_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    return (A.dataframe()
            .select("n_nationkey", "n_regionkey")
            .orderBy("n_nationkey"))


def _nation_dense_array(spark, sf_dir) -> str:
    """nation ingested as a DENSE array over n_nationkey domain (0, 29):
    keys 0-24 are written, 25-29 stay unwritten (fill = -1)."""
    import numpy as np

    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "nation")
               .select("n_nationkey", "n_regionkey")
               .orderBy("n_nationkey").toPandas())
        dom = tdb.Domain(tdb.Dim(name="n_nationkey", domain=(0, 29),
                                 tile=30, dtype=np.int64))
        schema = tdb.ArraySchema(
            domain=dom, sparse=False,
            attrs=[tdb.Attr(name="n_regionkey", dtype=np.int64, fill=-1)])
        tdb.Array.create(uri, schema)
        with tdb.open(uri, "w", spark=spark) as A:
            A[0:len(pdf)] = {"n_regionkey": pdf["n_regionkey"].to_numpy()}

    return _fixture_array(sf_dir, "nation_dense", build)


def q_dense_fill_read(spark, sf_dir):
    """S2/J3/P11 as a DataFrame: dense read materializes unwritten cells
    as the attr fill value, and a QueryCondition keeps the shape —
    non-matching cells become fill instead of being dropped."""
    import tiledb_py_spark as tdb

    uri = _nation_dense_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    return (A.dataframe(cond="n_regionkey <= 2")
             .orderBy("n_nationkey"))


def _supplier_labeled_array(spark, sf_dir) -> str:
    """supplier keyed by s_suppkey with a dimension label 's_name'
    (zero-padded supplier names are monotonic in the key)."""
    import tiledb_py_spark as tdb
    from tiledb_py_spark.labels import DimLabelSchema, write_label_data

    def build(uri):
        pdf = (_t(spark, sf_dir, "supplier")
               .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
               .toPandas())
        tdb.from_pandas(uri, pdf[["s_suppkey", "s_nationkey", "s_acctbal"]],
                        index_dims=["s_suppkey"])
        import tiledb_py_spark.manifest as mf

        mf.commit(uri, lambda m: m.schema.dim_labels.update(
            {0: {"s_name": DimLabelSchema("increasing", "U0", 0)}}))
        write_label_data(uri, "s_name", pdf["s_suppkey"].to_numpy(),
                         pdf["s_name"].to_numpy())

    return _fixture_array(sf_dir, "supplier_labeled", build)


def q_label_read(spark, sf_dir):
    """S8/J1: label-range read through the distributed LabelIndexer —
    label range -> dim interval in Spark, label column attached via
    broadcast join."""
    import tiledb_py_spark as tdb

    uri = _supplier_labeled_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    df = A.label_index(["s_name"]).dataframe(
        slice("Supplier#000000010", "Supplier#000000050"))
    return (df.select("s_suppkey", "s_name", "s_nationkey",
                      F.round("s_acctbal", 2).alias("s_acctbal"))
              .orderBy("s_suppkey"))


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-stage aggregation (operators/skew.py): same answer
    as a plain groupBy, but no reducer ever sees a whole hot key."""
    from tiledb_py_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(li, ["l_returnflag"],
                     {"sum_qty": ("l_quantity", "sum"),
                      "n_rows": ("l_quantity", "count"),
                      "max_price": ("l_extendedprice", "max")})
    return (out.select("l_returnflag",
                       F.round("sum_qty", 2).alias("sum_qty"),
                       "n_rows", "max_price")
               .orderBy("l_returnflag"))


def q_asof_forward(spark, sf_dir):
    """Keyless FORWARD as-of join on the bucket-decomposed scale path:
    each purchase matched to the next error event at-or-after it,
    globally (no keys) — the single-task global window is replaced by
    per-bucket windows + a broadcast carry table.  Bucket bounds come
    from the parquet footer statistics the input already carries
    (driver-side, no sampling job); when stats are unavailable the
    operator falls back to its sampled-quantile pass."""
    from tiledb_py_spark.operators.asof import asof_join
    from tiledb_py_spark.operators.stats_bounds import parquet_range_bounds

    e = _events(spark, sf_dir)
    try:
        bounds = parquet_range_bounds(
            os.path.join(sf_dir, "events.parquet"), "ts", 32)
    except Exception:
        bounds = None
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .select("event_id", "ts"))
    errors = (e.filter(F.col("event_type") == "error")
               .select("ts"))
    out = asof_join(purchases, errors, on="ts", right_cols=[],
                    direction="forward", num_buckets=32, bounds=bounds)
    return (out.select("event_id", F.col("ts_right").alias("next_err_ts"))
               .orderBy("event_id"))


def q_enum_qc(spark, sf_dir):
    """P10: QueryCondition on an ENUMERATED attr — labels in the condition
    are translated to dictionary codes, decoded on materialization."""
    uri = _orders_enum_array(spark, sf_dir)
    import tiledb_py_spark as tdb

    A = tdb.open(uri, spark=spark)
    df = A.dataframe(cond="o_orderpriority in ['1-URGENT', '2-HIGH'] and o_totalprice > 100000.0")
    enum = A.schema.enums["o_orderpriority"]
    codes = F.array(*[F.lit(v) for v in enum.values])
    return (df.withColumn("o_orderpriority",
                          F.element_at(codes, F.col("o_orderpriority") + 1))
              .select("o_orderkey", "o_orderpriority", "o_totalprice"))


def _orders_enum_array(spark, sf_dir) -> str:
    """Orders with o_orderpriority stored as an enumeration (dictionary)."""
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = (_t(spark, sf_dir, "orders")
               .select("o_orderkey", "o_orderpriority", "o_totalprice")
               .toPandas())
        pdf["o_orderpriority"] = pdf["o_orderpriority"].astype("category")
        tdb.from_pandas(uri, pdf, index_dims=["o_orderkey"])

    return _fixture_array(sf_dir, "orders_enum", build)


# ---------------------------------------------------------------------------
# SQL-native relational layer (phase E: free-upside operators over arrays)
# ---------------------------------------------------------------------------

def q_group_agg(spark, sf_dir):
    """TPC-H Q1-shaped grouped aggregation (map-side partial agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_join_topk(spark, sf_dir):
    """Q3-shaped join + group + top-k; dimension side broadcast."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("l_orderkey")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
              .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
              .limit(10))


def q_join_multiway(spark, sf_dir):
    """Q5-shaped 5-way join, revenue by nation (broadcast dims, one big
    fact-side shuffle)."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .groupBy("n_name")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
              .orderBy(F.col("revenue").desc(), F.col("n_name")))


def q_window_rank(spark, sf_dir):
    """Window functions: top-3 orders per customer by totalprice."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 3)
             .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


def q_anti_semi(spark, sf_dir):
    """Set-shaped ops: customers with no 1995 orders (anti join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz")))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_name").orderBy("c_custkey"))


def q_rollup(spark, sf_dir):
    """Grouping-set rollup (absent in the reference; free in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
              .orderBy("l_returnflag", "l_linestatus"))


def q_json_props(spark, sf_dir):
    """Scalar-function layer: JSON extraction over the events stream table."""
    e = _events(spark, sf_dir)
    return (e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("k").alias("sum_k"),
                  F.round(F.avg("value"), 6).alias("avg_value"))
             .orderBy("event_type"))


# ---------------------------------------------------------------------------
# streaming-shaped analytics (batch-mode checkable; same fn runs streaming)
# ---------------------------------------------------------------------------

def q_events_tumbling(spark, sf_dir):
    from tiledb_py_spark.streaming import tumbling_window_counts

    e = _events(spark, sf_dir)
    out = tumbling_window_counts(e, window="1 hour")
    return (out.withColumn("sum_value", F.round("sum_value", 2))
               .orderBy("window_start", "event_type"))


def q_events_sliding(spark, sf_dir):
    """Sliding windows (1h window, 30min slide): each event lands in two
    overlapping windows."""
    from tiledb_py_spark.streaming import sliding_window_counts

    e = _events(spark, sf_dir)
    out = sliding_window_counts(e, window="1 hour", slide="30 minutes")
    return out.select("window_start", "event_type", "n_events") \
              .orderBy("window_start", "event_type")


def q_events_sessions(spark, sf_dir):
    from tiledb_py_spark.streaming import session_window_stats

    e = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    out = session_window_stats(e, gap="30 minutes")
    return (out.withColumn("sum_value", F.round("sum_value", 2))
               .orderBy("user_id", "session_start"))


# ---------------------------------------------------------------------------
# LLM-pipeline operators (dedup / similarity / text)
# ---------------------------------------------------------------------------

def q_asof_join(spark, sf_dir):
    """As-of join: each purchase attributed to the user's most recent
    prior-or-equal click (point-in-time attribution)."""
    from tiledb_py_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .select("event_id", "user_id", "ts", "value"))
    clicks = (e.filter(F.col("event_type") == "click")
               .select("user_id", "ts", F.col("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, on="ts", by=["user_id"],
                    right_cols=["click_id"])
    return (out.select("event_id", "user_id",
                       F.round("value", 2).alias("value"),
                       F.col("click_id_right").alias("click_id"),
                       F.col("ts_right").alias("click_ts"))
               .orderBy("event_id"))


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: union docs with a copy of the first 100, dedup must
    return exactly the original set (keep-min-id)."""
    from tiledb_py_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") < 100).withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
    deduped = exact_dedup(d.unionByName(dup), ["text"], id_col="doc_id")
    return deduped.select("doc_id").orderBy("doc_id")


def q_dup_stats(spark, sf_dir):
    """Duplicate-group stats keyed on md5 (portable content hash)."""
    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") < 100).withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
    u = d.unionByName(dup)
    return (u.groupBy(F.md5(F.col("text")).alias("content_hash"))
             .agg(F.count(F.lit(1)).alias("n_copies"))
             .filter(F.col("n_copies") > 1)
             .orderBy("content_hash"))


def q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup removal.  The documents table carries injected
    near-duplicates (3-gram Jaccard >= 0.9); with 16 bands x 2 rows the
    LSH catch probability at j=0.9 is 1-(1-0.81)^16 ~ 1-3e-12, so the
    output equals the exact-Jaccard dedup the oracle computes in SQL."""
    from tiledb_py_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
    out = minhash_dedup(d.unionByName(dup), "text", "doc_id",
                        num_perm=32, bands=16, shingle_k=3, threshold=0.9)
    return out.select("doc_id").orderBy("doc_id")


def q_ngram_jaccard(spark, sf_dir):
    """Exact token-set (1-gram) Jaccard pairs >= 0.7 on a subset."""
    from tiledb_py_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=1, threshold=0.7)
    return (pairs.withColumn("jaccard", F.round("jaccard", 6))
                 .orderBy("id_a", "id_b"))


def q_simhash(spark, sf_dir):
    """SimHash signatures with the portable md5-60bit token hash, so the
    full bit-counter fold is reproducible in DuckDB (the engine default is
    xxhash64, same fold)."""
    from tiledb_py_spark.operators.dedup import md5_hash60, simhash_signatures

    d = _t(spark, sf_dir, "documents")
    return (simhash_signatures(d, "text", "doc_id",
                               token_hash=md5_hash60, n_bits=60)
            .orderBy("doc_id"))


def q_simhash_neardup(spark, sf_dir):
    """Banded-pigeonhole SimHash near-dup pairs at Hamming distance <= 3
    (d+1 block buckets + exact bit_count verify), portable md5-60bit hash
    so DuckDB recomputes the same simhashes and cross-joins exactly."""
    from tiledb_py_spark.operators.dedup import md5_hash60, simhash_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    # bucket_cap lifted for the exactness gate: the default 64 is the
    # scale guard against degenerate boilerplate buckets and (by design)
    # drops pairs beyond the cap, which the exact O(n^2) oracle would flag
    return (simhash_neardup_pairs(d, "text", "doc_id", d=3,
                                  token_hash=md5_hash60, n_bits=60,
                                  bucket_cap=1_000_000)
            .orderBy("id_a", "id_b"))


def q_repeated_ngrams(spark, sf_dir):
    """Cross-document repeated 10-gram spans (substring-dedup primitive):
    per doc, total grams and grams shared with >= 2 distinct docs.
    Whitespace tokenizer + portable md5-60bit gram hash so DuckDB builds
    the identical inverted index."""
    from tiledb_py_spark.operators.dedup import (md5_hash60,
                                                 repeated_ngram_stats)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws_toks = F.split(F.trim(F.col("text")), r"\s+")
    out = repeated_ngram_stats(d, "text", "doc_id", n=10, min_docs=2,
                               gram_hash=md5_hash60, tokens_col=ws_toks)
    return out.orderBy("doc_id")


def q_contamination(spark, sf_dir):
    """Benchmark decontamination scan: docs 0-49 act as the held-out
    benchmark, the rest as training corpus; per corpus doc, count 5-gram
    occurrences shared with any benchmark doc (portable md5-60bit gram
    hash + whitespace tokenizer so DuckDB builds the identical inverted
    index).  decontaminate() = anti-join on these stats (pytest-gated)."""
    from tiledb_py_spark.operators.dedup import (md5_hash60,
                                                 ngram_contamination_stats)

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    corpus = d.filter((F.col("doc_id") >= 50) & (F.length(F.trim("text")) > 0))
    bench = d.filter((F.col("doc_id") < 50) & (F.length(F.trim("text")) > 0))
    out = ngram_contamination_stats(corpus, bench, "text", "doc_id",
                                    n=5, gram_hash=md5_hash60,
                                    tokens_col=ws, bench_tokens_col=ws)
    return out.orderBy("doc_id")


def _cdc_array(spark, sf_dir) -> str:
    """Changelog fixture: four fragments at PINNED manifest timestamps
    (1000/2000/2100/2200 ms via write_fragment_pandas' explicit
    timestamp) so the (ts1=1500, ts2=3000) window splits them
    deterministically at every sf — base write before the window, then
    an overwrite of p_partkey < 80 (+5000), a SAME-VALUE rewrite of
    80 <= p_partkey < 100 (must NOT appear as a change), and an insert
    of shifted new keys."""
    import tiledb_py_spark as tdb
    from tiledb_py_spark.sources.fragment_writer import write_fragment_pandas

    def build(uri):
        pdf = (_t(spark, sf_dir, "part")
               .select("p_partkey", "p_retailprice").toPandas())
        # full_domain: the insert fragment lands at p_partkey+1_000_000,
        # which out-of-domain write validation rejects on a pinned domain
        tdb.from_pandas(uri, pdf, index_dims=["p_partkey"],
                        mode="schema_only", full_domain=True)
        schema = tdb.open(uri).schema
        write_fragment_pandas(uri, schema, pdf, timestamp=1000)
        upd = pdf[pdf["p_partkey"] < 80].copy()
        upd["p_retailprice"] = upd["p_retailprice"] + 5000.0
        write_fragment_pandas(uri, schema, upd, timestamp=2000)
        noop = pdf[(pdf["p_partkey"] >= 80)
                   & (pdf["p_partkey"] < 100)].copy()
        write_fragment_pandas(uri, schema, noop, timestamp=2100)
        ins = pdf[pdf["p_partkey"] < 40].copy()
        ins["p_partkey"] = ins["p_partkey"] + 1_000_000
        ins["p_retailprice"] = ins["p_retailprice"] + 7.0
        write_fragment_pandas(uri, schema, ins, timestamp=2200)

    return _fixture_array(sf_dir, "part_cdc", build)


def q_array_changelog(spark, sf_dir):
    """CDC changelog between two array snapshots: net insert/update
    effect of the (1500, 3000] window under last-write-wins, no-op
    rewrites excluded, old and new values side by side.  The window's
    cost is delta-sized: affected keys come from the window fragments'
    dim columns only, and both snapshot scans are MBR-pruned + semi-
    joined before the full-outer diff.  The oracle replays the two
    logical snapshots and diffs them in SQL."""
    from tiledb_py_spark.cdc import changelog

    uri = _cdc_array(spark, sf_dir)
    out = changelog(uri, 1500, 3000, spark=spark)
    return (out.select("p_partkey", "change",
                       F.round("p_retailprice_old", 2).alias("old_price"),
                       F.round("p_retailprice_new", 2).alias("new_price"))
               .orderBy("p_partkey"))


def q_embedding_pca(spark, sf_dir):
    """Distributed PCA over the embeddings table, verified as assertions
    the oracle can state: (a) EXACT machinery — every returned
    (eigenvalue, component) pair satisfies the eigenpair equation of the
    driver-replayed covariance to 1e-8 and the components are
    orthonormal (gap-free checks, unlike per-vector comparison against
    a reference fit, which near-degenerate spectra would break);
    (b) the Arrow projection equals the numpy replay (X - mean) @ W.T
    to 1e-9; (c) eigenvalues are sorted descending and match numpy eigh
    on the same covariance to 1e-9 relative; (d) fit -> save into the
    embeddings array's manifest -> load restores (mean, components)
    bit-exactly (idempotent on persisted state, like ivf_ann)."""
    import numpy as np

    from tiledb_py_spark.operators.similarity import PCAModel

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    k = 8
    fit = PCAModel(n_components=k).fit(e, "embedding")
    uri = _embeddings_array(spark, sf_dir)
    try:
        m = PCAModel.load(uri, name="gate")
    except KeyError:
        fit.save(uri, name="gate")
        m = PCAModel.load(uri, name="gate")
    roundtrip = bool(
        np.array_equal(m.components_, fit.components_)
        and np.array_equal(m.mean_, fit.mean_))

    rows = e.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.array([r.embedding for r in rows], dtype="float64")
    mean = X.mean(axis=0)
    C = (X - mean).T @ (X - mean) / len(X)
    eig_resid = max(
        float(np.abs(C @ m.components_[i]
                     - m.explained_variance_[i] * m.components_[i]).max())
        for i in range(k))
    ortho = float(np.abs(m.components_ @ m.components_.T
                         - np.eye(k)).max())
    wnp = np.sort(np.linalg.eigvalsh(C))[::-1][:k]
    eigvals_ok = bool(np.allclose(wnp, m.explained_variance_,
                                  rtol=1e-9, atol=1e-12))
    desc_ok = bool((np.diff(m.explained_variance_) <= 1e-12).all())

    t = m.transform(e, "embedding").select("vec_id", "pca") \
         .orderBy("vec_id").collect()
    P = np.array([r.pca for r in t])
    proj_resid = float(np.abs(P - (X - mean) @ m.components_.T).max())

    return spark.createDataFrame(
        [(k, bool(eig_resid < 1e-8), bool(ortho < 1e-9), eigvals_ok,
          desc_ok, bool(proj_resid < 1e-9), roundtrip)],
        "n_components int, eigenpairs_exact boolean, orthonormal boolean, "
        "eigvals_match_numpy boolean, variance_desc boolean, "
        "projection_exact boolean, persisted_roundtrip boolean")


def q_wordpiece_scores(spark, sf_dir):
    """WordPiece trainer iteration 0, hash-verified: adjacent symbol
    pairs over the character alphabet (bare first chars, ##-prefixed
    continuations) with the likelihood score pair/(left*right) — the
    SQL-expressible piece that carries the oracle for the corpus-scale
    machinery; the iterative trainer is checked by the
    wordpiece_train reference gate."""
    from tiledb_py_spark.operators.bpe import (wordpiece_pair_scores,
                                               word_frequencies)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    out = wordpiece_pair_scores(word_frequencies(d, "text"))
    # ln-space + round-4: the raw likelihood scores are ~1e-6 (the
    # driver's float rounding would flatten them to 0); 4 decimals in
    # ln space survives cross-engine libm ulp drift (kn_ppl precedent)
    return (out.select("left", "right", "pair_count",
                       F.round(F.log("score"), 4).alias("log_score"))
               .orderBy("left", "right"))


def q_wordpiece_train(spark, sf_dir):
    """Full WordPiece vocabulary induction, verified as assertions the
    oracle can state: (a) the 40-merge vocabulary learned through the
    distributed word-frequency path equals a from-scratch pure-Python
    WordPiece run on the collected raw text (likelihood score,
    count-then-lexicographic tiebreak — stated determinism); (b)
    greedy longest-match encoding is deterministic across invocations
    and emits only vocabulary symbols (or [UNK]); (c) detokenizing the
    encoded corpus (strip ##, rejoin) reproduces every word whose
    characters are all in the alphabet."""
    from collections import Counter

    from tiledb_py_spark.operators.bpe import (_wp_symbols,
                                               wordpiece_encode_udf,
                                               wordpiece_train)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    vocab = wordpiece_train(d, "text", n_merges=40, min_freq=2)

    words: dict = {}
    for t in (r[0] for r in d.select("text").collect()):
        for w in t.lower().split():
            s = _wp_symbols(w)
            words[s] = words.get(s, 0) + 1
    firsts = sorted({s[0] for s in words})
    conts = sorted({c for s in words for c in s[1:]})
    ref = firsts + conts
    for _ in range(40):
        pairs: Counter = Counter()
        sym: Counter = Counter()
        for s, c in words.items():
            for i, x in enumerate(s):
                sym[x] += c
                if i < len(s) - 1:
                    pairs[(x, s[i + 1])] += c
        eligible = [(p, c) for p, c in pairs.items() if c >= 2]
        if not eligible:
            break
        best = min(eligible,
                   key=lambda kv: (-kv[1] / (sym[kv[0][0]] * sym[kv[0][1]]),
                                   -kv[1], kv[0]))
        a, b = best[0]
        merged = a + (b[2:] if b.startswith("##") else b)
        ref.append(merged)

        def mw(s):
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return tuple(out)

        words = {mw(s): c for s, c in words.items()}
    matches = vocab == ref

    enc = wordpiece_encode_udf(vocab)
    r1 = d.select("doc_id", enc(F.col("text")).alias("t")) \
          .orderBy("doc_id").collect()
    r2 = d.select("doc_id", enc(F.col("text")).alias("t")) \
          .orderBy("doc_id").collect()
    deterministic = all(x.t == y.t for x, y in zip(r1, r2))
    allowed = set(vocab) | {"[UNK]"}
    closed = all(tok in allowed for row in r1 for tok in row.t)
    bare = {v for v in vocab if not v.startswith("##") and len(v) == 1}
    cont = {v[2:] for v in vocab if v.startswith("##") and len(v) == 3}
    rebuild_ok = True
    it = iter(r1)
    for row, txt in zip(it, (r[0] for r in
                             d.select("text").orderBy("doc_id").collect())):
        toks = list(row.t)
        words_out, cur = [], ""
        for tok in toks:
            if tok.startswith("##"):
                cur += tok[2:]
            else:
                if cur:
                    words_out.append(cur)
                cur = tok
        if cur:
            words_out.append(cur)
        src = txt.lower().split()
        covered = [w for w in src
                   if w and w[0] in bare
                   and all(c in cont for c in w[1:])]
        got = [w for w in words_out if w != "[UNK]"]
        if covered != got:
            rebuild_ok = False
            break
    return spark.createDataFrame(
        [(40, bool(matches), bool(deterministic), bool(closed),
          bool(rebuild_ok))],
        "n_merges int, vocab_matches_reference boolean, "
        "encode_deterministic boolean, vocab_closed boolean, "
        "detok_rebuilds boolean")


def q_funnel(spark, sf_dir):
    """First-touch funnel (view -> click -> purchase within 12 hours of
    the first view): non-step events never shuffle, one entity-key
    Exchange, the ordered-prefix match is a row-local aggregate fold.
    The oracle replays the greedy-earliest chain as nested min()
    CTEs — equivalent by the exchange argument stated in the
    docstring."""
    from tiledb_py_spark.streaming.events import funnel

    e = _events(spark, sf_dir)
    out = funnel(e, ["view", "click", "purchase"], within="12 HOURS")
    return out.orderBy("user_id")


def q_funnel_by_cohort(spark, sf_dir):
    """COMPOSED event-analytics gate (the corpus_e2e pattern for the
    event side): first-touch funnel results joined to first-event-hour
    cohorts — per cohort hour, how many users entered the funnel and
    how many completed each step.  Composition is where column
    contracts break; the oracle chains both operators' replays."""
    from tiledb_py_spark.streaming.events import funnel

    e = _events(spark, sf_dir)
    f = funnel(e, ["view", "click", "purchase"], within="12 HOURS")
    cohorts = (e.groupBy("user_id")
                .agg(F.date_trunc("hour", F.min("ts")).alias("cohort")))
    j = f.join(cohorts, on="user_id", how="inner")
    return (j.groupBy("cohort")
             .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                  F.sum(F.when(F.col("n_steps") >= 1, 1).otherwise(0))
                  .cast("long").alias("n_step1"),
                  F.sum(F.when(F.col("n_steps") >= 2, 1).otherwise(0))
                  .cast("long").alias("n_step2"),
                  F.sum(F.when(F.col("n_steps") >= 3, 1).otherwise(0))
                  .cast("long").alias("n_step3"))
             .orderBy("cohort"))


def q_ewma(spark, sf_dir):
    """Per-user event-time EWMA (alpha=0.3): one entity-key shuffle,
    then pandas' C ``ewm`` kernel per partition (see the ewma
    docstring).  The oracle replays the recurrence as a recursive CTE
    over row_number; pandas' weighted-average formulation agrees with
    the CTE's multiply-add to well inside the 4-dp rounding + checker
    tolerance."""
    from tiledb_py_spark.streaming.events import ewma

    e = _events(spark, sf_dir)
    out = ewma(e, "value", alpha=0.3)
    return (out.select("user_id", "event_id", "ts",
                       F.round("value", 2).alias("value"),
                       F.round("ewma", 4).alias("ewma"))
               .orderBy("user_id", "event_id"))


def q_pagerank(spark, sf_dir):
    """PageRank power iteration (6 rounds, d=0.85, dangling mass folded
    back uniformly) over a 211-node part->supplier graph derived from
    lineitem.  The oracle replays the stated update rule as six
    unrolled CTE iterations; ranks compare scaled by N at round-4 (the
    float-associativity contract of the ln() gates)."""
    from tiledb_py_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = (li.select((F.col("l_partkey") % 211).alias("src"),
                       (F.col("l_suppkey") % 211).alias("dst"))
               .filter(F.col("src") != F.col("dst")))
    out = pagerank(edges, damping=0.85, n_iter=6)
    n = out.count()
    return (out.select(F.col("node"),
                       F.round(F.col("rank") * F.lit(float(n)), 4)
                       .alias("rank_scaled"))
               .orderBy("node"))


def q_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters through the Misra-Gries sketch path: a
    per-partition k-counter digest (zero shuffles, bounded collect)
    nominates candidates, an exact recount + true-threshold filter
    makes the output independent of sketch noise — so the plain GROUP
    BY / HAVING oracle states it exactly."""
    from tiledb_py_spark.operators.sketches import heavy_hitters
    from tiledb_py_spark.operators.text import whitespace_tokens

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.transform(whitespace_tokens("text"), lambda t: F.lower(t))
    return heavy_hitters(d, toks, threshold_frac=0.005)


def q_cohort_retention(spark, sf_dir):
    """Daily cohort retention matrix: users grouped by first-event day,
    counted in each later day they reappear.  No window function — the
    cohort pin is a min() aggregation, activity a distinct, offsets
    row-local arithmetic."""
    from tiledb_py_spark.streaming.events import cohort_retention

    e = _events(spark, sf_dir)
    return cohort_retention(e, period="day")


def q_event_transitions(spark, sf_dir):
    """First-order clickstream transition counts (Markov summary) with
    __start__ rows; one entity-key Exchange feeding a 2-string-row
    aggregation."""
    from tiledb_py_spark.streaming.events import event_transitions

    e = _events(spark, sf_dir)
    return event_transitions(e)


def q_bloom_decontam(spark, sf_dir):
    """End-to-end decontamination on the PREFILTER scale path: a k=1
    Bloom filter realized as a JVM broadcast semi-join on the truncated
    gram hash (stays in whole-stage codegen; the full gram set never
    has to fit a broadcast hash join), exact verify join removing false
    positives — the surviving corpus must equal the broadcast
    strategy's answer bit-for-bit, which is what the plain SQL oracle
    states.  The memory-minimal Arrow-bitmap variant
    (strategy='bloom') is pytest-pinned equal."""
    from tiledb_py_spark.operators.dedup import decontaminate, md5_hash60

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    corpus = d.filter((F.col("doc_id") >= 50) & (F.length(F.trim("text")) > 0))
    bench = d.filter((F.col("doc_id") < 50) & (F.length(F.trim("text")) > 0))
    out = decontaminate(corpus, bench, "text", "doc_id",
                        n=5, gram_hash=md5_hash60,
                        tokens_col=ws, bench_tokens_col=ws,
                        strategy="prefilter", bloom_bits=1 << 20)
    return out.select("doc_id", "source").orderBy("doc_id")


def q_remove_spans(spark, sf_dir):
    """Substring-level dedup: REMOVE every token covered by a 10-gram
    shared by >= 2 docs (whitespace tokens + portable md5-60bit gram
    hash, so DuckDB computes the identical span mask and rebuilt
    text)."""
    from tiledb_py_spark.operators.dedup import (md5_hash60,
                                                 remove_repeated_spans)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    out = remove_repeated_spans(d, "text", "doc_id", n=10, min_docs=2,
                                gram_hash=md5_hash60)
    return out.orderBy("doc_id")


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: exact 1-gram Jaccard pairs (same
    graph as the ngram_jaccard gate) -> distributed connected components
    (min-label propagation + pointer jumping) -> every node labeled with
    the minimum doc_id reachable from it.  The oracle computes the same
    closure with a recursive CTE."""
    from tiledb_py_spark.operators.dedup import (connected_components,
                                                 ngram_jaccard_pairs)

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=1,
                                threshold=0.7)
    return (connected_components(pairs)
            .select(F.col("id").alias("doc_id"), "rep")
            .orderBy("doc_id"))


def q_dedup_clusters_lsh(spark, sf_dir):
    """Transitive clusters over the SCALE candidate graph: banded MinHash
    LSH candidates over the WHOLE documents table (not the O(n^2)
    oracle slice) -> exact-Jaccard verify -> connected components ->
    cluster-size histogram.  This is the 100 TB shape: postings-sized
    shuffles, capped buckets, O(log d) CC rounds.

    Oracle-able because the verify threshold is 1.0 over the default
    3-gram shingles: Jaccard 1 means EQUAL distinct-shingle sets — an
    equivalence relation, so the CC closure equals DuckDB's plain GROUP
    BY on the sorted distinct-shingle list (equal sets give equal
    signatures, so the pair is always banded), with no dependence on
    the unreplayable banding hashes.  The bucket cap is LIFTED on this
    oracle path (same policy as embedding_near_dup_lsh): a capped
    bucket drops pairs of any equal class larger than the cap, which
    would break the equivalence argument — production recall semantics
    of the cap stay pytest-gated, as does sub-1.0 transitive closure
    (test_connected_components_over_lsh_candidates).  NULL texts are
    excluded on both sides (Spark tokenizes NULL like empty text;
    DuckDB keeps it a distinct group — the one tokenizer divergence).
    (1-gram shingles would degenerate here: the synthetic docs share a
    ~30-word vocabulary, so k=1 buckets hold hundreds of docs — k=3
    keeps buckets tight.)"""
    from tiledb_py_spark.operators.dedup import (connected_components,
                                                 minhash_lsh_candidates,
                                                 verify_jaccard)

    d0 = (_t(spark, sf_dir, "documents").select("doc_id", "text")
          .filter(F.col("text").isNotNull()))
    dup = (d0.filter(F.col("doc_id") < 50)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    d = d0.unionByName(dup)  # guaranteed non-empty clusters (i, i+1e9)
    pairs = minhash_lsh_candidates(d, "text", "doc_id", shingle_k=3,
                                   bucket_cap=1 << 30)
    verified = verify_jaccard(d, pairs, "text", "doc_id", shingle_k=3,
                              threshold=1.0)
    labels = connected_components(verified.select("id_a", "id_b"))
    return (labels.groupBy("rep")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .orderBy("cluster_size"))


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 embedding."""
    from tiledb_py_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(sf_dir)
    out = brute_force_topk(e.filter(F.col("vec_id") != 0), "embedding", "vec_id",
                           qv, k=10)
    return out.withColumn("score", F.round("score", 5)).orderBy(F.col("score").desc(), "vec_id")


def q_embedding_near_dup(spark, sf_dir):
    """Exact all-pairs cosine >= 0.30 (the LSH-bucketed variant is the
    scale path; exact is the oracle path).  Math in float64 on both sides
    so the threshold boundary is deterministic."""
    from tiledb_py_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200) \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    out = embedding_near_dup_pairs(e, "embedding", "vec_id", threshold=0.30, exact=True)
    return out.withColumn("cosine", F.round("cosine", 5)).orderBy("id_a", "id_b")


def q_embedding_near_dup_lsh(spark, sf_dir):
    """The BANDED hyperplane-LSH scale path, oracle-gated: with caps
    lifted, candidates that survive the exact-cosine verify are a subset
    of the true pairs, and with 24 tables x 2 planes at threshold 0.40
    the seed-42 tables deterministically recover EVERY true pair on this
    slice (analytic miss ~5e-6/pair; equality to the exact O(n^2) oracle
    is therefore exact, not approximate).  Cosine recomputed in float64
    on both sides."""
    from tiledb_py_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    out = embedding_near_dup_pairs(e, "embedding", "vec_id", threshold=0.40,
                                   exact=False, n_planes=2, n_tables=24,
                                   bucket_cap=10**6)
    return out.withColumn("cosine", F.round("cosine", 5)).orderBy("id_a", "id_b")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup, oracle-gated on its exact setting:
    with n_cells=1 the drop rule ("a smaller-id vector with cosine >=
    0.30 exists") is the plain quadratic rule DuckDB can state with
    NOT EXISTS; n_cells>1 only moves pairs across cell boundaries
    (recall, pytest-gated)."""
    from tiledb_py_spark.operators.dedup import semantic_dedup

    e = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    out = semantic_dedup(e, "embedding", "vec_id", threshold=0.30, n_cells=1)
    return out.select("vec_id").orderBy("vec_id")


def q_fuzzy_join(spark, sf_dir):
    """Cross-table near-duplicate text join (record linkage): documents
    0-99 as the left table, a RE-IDENTIFIED copy of documents 0-149 as
    the right table (ids shifted by 5000, text verbatim — so matches
    include the guaranteed jaccard-1.0 self pairs plus the corpus's
    injected sub-1.0 near-duplicates); banded-MinHash candidates + exact
    shingle-Jaccard verify at >= 0.9 — at that threshold the 16x4
    banding miss probability is ~1e-8/pair, so the result equals the
    exact O(n*m) cross Jaccard the oracle computes."""
    from tiledb_py_spark.operators.dedup import fuzzy_text_join

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    left = d.filter(F.col("doc_id") < 100)
    right = (d.filter(F.col("doc_id") < 150)
              .select((F.col("doc_id") + 5000).alias("rid"),
                      F.col("text")))
    out = fuzzy_text_join(left, right, "text", "doc_id", "rid",
                          threshold=0.9, shingle_k=1)
    return (out.withColumn("jaccard", F.round("jaccard", 6))
               .orderBy("doc_id", "rid"))


def q_semantic_decontam(spark, sf_dir):
    """Embedding-level benchmark decontamination (the semantic complement
    of the n-gram `contamination` gate): corpus rows (vec_id >= 100,
    < 300) whose embedding is within cosine 0.30 of ANY benchmark
    embedding (vec_id < 100) are dropped via the broadcast-matrix scan;
    DuckDB states the same rule with NOT EXISTS."""
    from tiledb_py_spark.operators.dedup import semantic_decontaminate

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    corpus = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300))
    bench = e.filter(F.col("vec_id") < 100)
    out = semantic_decontaminate(corpus, bench, "embedding", "vec_id",
                                 threshold=0.30)
    return out.select("vec_id").orderBy("vec_id")


def q_sample_exact(spark, sf_dir):
    """Deterministic exact-n sampling: exactly 20 documents per language
    (or all of them for languages with fewer), ranked by the portable
    seeded hash — DuckDB replays the identical ranking with QUALIFY."""
    from tiledb_py_spark.operators.pipeline import sample_exact

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sample_exact(d, ["doc_id"], n=20, by="lang", seed=42)
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_ivf_ann(spark, sf_dir):
    """IVF-bucketed approximate NN, verified as assertions the oracle can
    state: (a) probing ALL cells must reproduce the exact brute-force
    top-10 — the bucketing machinery (spherical k-means assignment +
    per-cell scan + merge) partitions without loss; (b) probing the 4
    query-closest of 8 cells must recall at least the 4/8 coverage floor.
    The synthetic embeddings are near-random unit vectors (pairwise cosine
    ~N(0, 1/sqrt(64))), so partial-probe recall is bounded by probed data
    fraction for ANY ann method — a fixed 0.9-recall bar would be
    unattainable; the machinery-exactness check carries correctness.

    The probe-all search runs through the PERSISTED index path: fit ->
    save into the embeddings array's manifest metadata -> load -> search
    (fit-once ANN over a stored embedding array; (c) asserts the
    round-trip restores the centroids bit-exactly)."""
    import numpy as np

    from tiledb_py_spark.operators.similarity import IVFIndex, brute_force_topk

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = e.filter(F.col("vec_id") != 0)
    exact = brute_force_topk(base, "embedding", "vec_id", qv, k=10) \
        .select("vec_id", F.round("score", 5).alias("score"))
    uri = _embeddings_array(spark, sf_dir)
    fit = IVFIndex(n_cells=8, n_probe=8).fit(e, "embedding")
    # save only on first run: the gate must stay idempotent on persisted
    # array state (no manifest-version growth per bench/correctness run).
    # The fit is deterministic (seeded, hash-ordered sample), so a prior
    # run's stored index equals this run's fit — the roundtrip assert
    # stays exact either way.
    try:
        idx = IVFIndex.load(uri, name="gate")
    except KeyError:
        fit.save(uri, name="gate")
        idx = IVFIndex.load(uri, name="gate")
    roundtrip = bool(np.array_equal(idx.centroids, fit.centroids))
    full = idx.search(base, "embedding", "vec_id", qv, k=10) \
        .select("vec_id", F.round("score", 5).alias("score"))
    partial = IVFIndex(n_cells=8, n_probe=4).fit(e, "embedding") \
        .search(base, "embedding", "vec_id", qv, k=10).select("vec_id")
    n_full = full.join(exact, ["vec_id", "score"]).count()
    n_partial = partial.join(exact.select("vec_id"), "vec_id").count()
    return spark.createDataFrame(
        [(10, n_full, bool(n_partial >= 5), roundtrip)],
        "k int, probe_all_matches int, partial_ge_coverage boolean, "
        "persisted_roundtrip boolean")


def q_ann_append(spark, sf_dir):
    """Incremental ANN index maintenance (VERDICT r9 item 5): two
    append batches encode against FROZEN centroids+codebooks and commit
    per-batch code-table fragments to a state array
    (IVFPQIndex.append, the incremental_exact_dedup commit shape);
    search over the fragmented state must BIT-EQUAL a scratch build on
    the union — before AND after compact_state folds the fragments —
    and a metadata predicate must compose with the persisted state.
    The oracle states the assertions."""
    import tiledb_py_spark as tdb
    from tiledb_py_spark.fragment import array_fragments
    from tiledb_py_spark.operators.dedup import compact_state
    from tiledb_py_spark.operators.similarity import IVFPQIndex

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = e.filter(F.col("vec_id") != 0)
    meta_uri = _embeddings_array(spark, sf_dir)
    # save-once / load-thereafter: idempotent on persisted array state;
    # fit only runs when the persisted index is absent (ADVICE r10 —
    # an unconditional fit was dead work on every warm invocation)
    try:
        idx = IVFPQIndex.load(meta_uri, name="append_gate")
    except KeyError:
        fit = IVFPQIndex(n_cells=8, n_probe=8, m=16, n_codes=64).fit(
            e, "embedding")
        fit.save(meta_uri, name="append_gate")
        idx = IVFPQIndex.load(meta_uri, name="append_gate")

    def _build_state(state_tmp):
        idx.append(base.filter(F.col("vec_id") % 2 == 0), "embedding",
                   "vec_id", state_tmp, keep_cols=["label"])
        idx.append(base.filter(F.col("vec_id") % 2 == 1), "embedding",
                   "vec_id", state_tmp, keep_cols=["label"])

    state_uri = _fixture_array(sf_dir, "ivfpq_state", _build_state)

    def rows(df):
        return [(r.vec_id, r.score) for r in df.collect()]

    scratch_tab = idx.build(base, "embedding", "vec_id",
                            keep_cols=["label"])
    scratch = rows(idx.search(scratch_tab, qv, k=10, n_probe=8))
    pre = rows(idx.search_state(state_uri, qv, k=10, n_probe=8,
                                spark=spark))
    compact_state(state_uri, spark=spark)
    post = rows(idx.search_state(state_uri, qv, k=10, n_probe=8,
                                 spark=spark))
    pred_state = rows(idx.search_state(
        state_uri, qv, k=10, n_probe=8,
        predicate=F.col("label") == 2, spark=spark))
    pred_scratch = rows(idx.search(
        scratch_tab, qv, k=10, n_probe=8,
        predicate=F.col("label") == 2))
    return spark.createDataFrame(
        [(10, bool(pre == scratch), bool(post == scratch),
          bool(pred_state == pred_scratch),
          bool(len(array_fragments(state_uri)) == 1))],
        "k int, append_bit_equal boolean, compacted_bit_equal boolean, "
        "predicate_bit_equal boolean, single_fragment boolean")


def q_kmeans_refine(spark, sf_dir):
    """Distributed full-data k-means refinement (kmeans_fit): the
    corpus-scale upgrade of the ANN indexes' driver-sample fit — one
    column-pruned Arrow scan per Lloyd pass emitting bounded per-
    partition partial sums, vectors never shuffle.  Verified as
    assertions the oracle can state: (a) the distributed pass
    bit-replays numpy Lloyd from the same init to 1e-9 (full scoring
    machinery, float-associativity tolerance only); (b) the spherical
    objective (mean max cosine to a centroid) does not degrade vs the
    sample-only fit; (c) two runs are deterministic-identical."""
    import numpy as np

    from tiledb_py_spark.operators.similarity import IVFIndex, kmeans_fit

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    base = e.filter(F.col("vec_id") != 0)
    init = IVFIndex(n_cells=8, n_probe=8).fit(e, "embedding").centroids
    ref = kmeans_fit(base, "embedding", 8, n_iter=2, init=init,
                     metric="cosine")
    ref2 = kmeans_fit(base, "embedding", 8, n_iter=2, init=init,
                      metric="cosine")

    M = np.asarray([r[0] for r in base.select("embedding").collect()],
                   dtype="float64")
    M = M[np.isfinite(M).all(axis=1)]

    def unit(m):
        n = np.linalg.norm(m, axis=-1, keepdims=True)
        return m / np.where(n == 0, 1.0, n)

    C = unit(init.copy())
    Mu = unit(M)
    for _ in range(2):
        cells = ((C * C).sum(axis=1)[None, :] - 2 * (Mu @ C.T)).argmin(axis=1)
        for c in range(len(C)):
            pts = Mu[cells == c]
            if len(pts):
                C[c] = pts.mean(axis=0)
        C = unit(C)
    replay_ok = bool(np.allclose(ref, C, atol=1e-9))
    d_base = float((Mu @ unit(init).T).max(axis=1).mean())
    d_ref = float((Mu @ unit(ref).T).max(axis=1).mean())
    return spark.createDataFrame(
        [(8, replay_ok, bool(d_ref >= d_base - 1e-9),
          bool(np.array_equal(ref, ref2)))],
        "k int, numpy_replay_exact boolean, objective_not_degraded boolean, "
        "deterministic boolean")


def q_pq_ann(spark, sf_dir):
    """Product-quantization ANN, verified as assertions the oracle can
    state: (a) the ADC machinery is EXACT w.r.t. the stored codes — for
    the 50 lowest vec_ids the Arrow ADC score equals the driver's
    dot(query_unit, reconstructed_vector) to 1e-9 (search never touches
    the raw vectors, so this is the full scoring path); (b) recall@10
    vs the exact cosine top-10 >= 3/10 (the synthetic embeddings are
    near-random unit vectors — quantization noise bounds ANY PQ's
    recall, machinery exactness carries correctness, same argument as
    ivf_ann); (c) fit -> save -> load through the embeddings array's
    manifest metadata restores the codebooks bit-exactly."""
    import numpy as np

    from tiledb_py_spark.operators.similarity import PQIndex, brute_force_topk

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = e.filter(F.col("vec_id") != 0)
    fit = PQIndex(m=16, n_codes=64).fit(e, "embedding")
    uri = _embeddings_array(spark, sf_dir)
    # save-once / load-thereafter: idempotent on persisted array state
    try:
        idx = PQIndex.load(uri, name="gate")
    except KeyError:
        fit.save(uri, name="gate")
        idx = PQIndex.load(uri, name="gate")
    roundtrip = bool(np.array_equal(idx.codebooks, fit.codebooks))
    enc = idx.encode(base, "embedding")
    exact_ids = {r.vec_id for r in
                 brute_force_topk(base, "embedding", "vec_id", qv,
                                  k=10).collect()}
    got_ids = {r.vec_id for r in
               idx.search(enc, "vec_id", qv, k=10).collect()}
    recall_ok = len(got_ids & exact_ids) >= 3
    sub = enc.filter(F.col("vec_id") <= 50)
    scores = {r.vec_id: r.score for r in
              idx.search(sub, "vec_id", qv, k=100).collect()}
    codes = {r.vec_id: r.pq_codes for r in
             sub.select("vec_id", "pq_codes").collect()}
    q = np.asarray(qv, dtype="float64")
    q = q / np.linalg.norm(q)
    m = idx.codebooks.shape[0]
    merr = max(abs(scores[v]
                   - float(q @ np.concatenate(
                       [idx.codebooks[j][codes[v][j]] for j in range(m)])))
               for v in scores)
    return spark.createDataFrame(
        [(10, bool(merr < 1e-9), bool(recall_ok), roundtrip)],
        "k int, adc_exact boolean, recall_ge_floor boolean, "
        "persisted_roundtrip boolean")


def q_ivfpq_ann(spark, sf_dir):
    """Composed IVF+PQ index (the IVFADC of Jegou et al. 2011) with
    METADATA-PREDICATE-FILTERED search — coarse-quantize to cells,
    PQ-encode residuals, ADC re-rank inside probed cells — verified as
    assertions the oracle can state: (a) probe-ALL residual-ADC scores
    replay in numpy to 1e-9 for vec_id <= 50 (the full scoring path:
    search reads only (cell, codes), never raw vectors); (b) recall@10
    probe-all vs the exact cosine top-10 >= 4/10 (residual
    quantization must beat raw-PQ's 3/10 floor at the same (m,
    n_codes) budget on these near-random embeddings); (c) searching
    with a ``label = 2`` predicate equals searching the pre-filtered
    table AND the predicate reaches the parquet scan of the persisted
    code table (PushedFilters — the QueryCondition-composed-with-read
    shape of /root/reference/tiledb/query_condition.py); (d) fit ->
    save -> load through the embeddings array's manifest metadata
    restores centroids + codebooks bit-exactly."""

    import numpy as np

    from tiledb_py_spark.operators.similarity import (IVFPQIndex,
                                                      brute_force_topk)

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = e.filter(F.col("vec_id") != 0)
    fit = IVFPQIndex(n_cells=8, n_probe=8, m=16, n_codes=64).fit(
        e, "embedding")
    uri = _embeddings_array(spark, sf_dir)
    try:
        idx = IVFPQIndex.load(uri, name="gate")
    except KeyError:
        fit.save(uri, name="gate")
        idx = IVFPQIndex.load(uri, name="gate")
    roundtrip = bool(np.array_equal(idx.centroids, fit.centroids)
                     and np.array_equal(idx.codebooks, fit.codebooks))

    # persist the code table; search scans codes + metadata only
    p = _gate_tmp("ivfpq_codes")
    idx.build(base, "embedding", "vec_id",
              keep_cols=["label"]).write.mode("overwrite").parquet(p)
    tab = spark.read.parquet(p)

    exact_ids = {r.vec_id for r in
                 brute_force_topk(base, "embedding", "vec_id", qv,
                                  k=10).collect()}
    got_ids = {r.vec_id for r in
               idx.search(tab, qv, k=10, n_probe=8).collect()}
    recall_ok = len(got_ids & exact_ids) >= 4
    # the DOCUMENTED default recipe (ann_search wires rerank=
    # max(10*k, 100)): ADC shortlist -> exact rescore of the shortlist
    # ids against the raw vectors.  Recall floor is strict — rerank
    # exists precisely because codes-only plateaus at the quantization
    # error (0.34-0.36 recall@10 at sf100)
    rr_ids = {r.vec_id for r in
              idx.search(tab, qv, k=10, n_probe=8, rerank=100,
                         vectors_df=base,
                         vec_col="embedding").collect()}
    rerank_ok = (len(rr_ids & exact_ids) >= 8
                 and len(rr_ids & exact_ids) >= len(got_ids & exact_ids))

    # predicate-filtered: plan pushdown + equality with prefiltered
    res = idx.search(tab, qv, k=10, predicate=F.col("label") == 2,
                     n_probe=8)
    plan = res._jdf.queryExecution().executedPlan().toString()
    pushed = ("PushedFilters" in plan
              and "label" in plan.split("PushedFilters")[1][:200])
    a = [(r.vec_id, round(r.score, 9)) for r in res.collect()]
    b = [(r.vec_id, round(r.score, 9)) for r in
         idx.search(tab.filter(F.col("label") == 2), qv, k=10,
                    n_probe=8).collect()]
    labels = dict(base.select("vec_id", "label").collect())
    pred_ok = bool(a == b and all(labels[v] == 2 for v, _ in a))

    # numpy replay of the composed scoring path
    sub = tab.filter(F.col("vec_id") <= 50)
    scores = {r.vec_id: r.score for r in
              idx.search(sub, qv, k=100, n_probe=8).collect()}
    rows = sub.select("vec_id", "cell", "pq_codes").collect()
    q = np.asarray(qv, dtype="float64")
    q = q / np.linalg.norm(q)
    m, _, dsub = idx.codebooks.shape
    merr = max(
        abs(scores[r.vec_id]
            - (1.0 - sum(((idx.codebooks[j][r.pq_codes[j]]
                           - (q - idx.centroids[r.cell])[j * dsub:(j + 1) * dsub])
                          ** 2).sum() for j in range(m)) / 2.0))
        for r in rows)
    return spark.createDataFrame(
        [(10, bool(merr < 1e-9), bool(recall_ok), bool(rerank_ok),
          pred_ok, bool(pushed), roundtrip)],
        "k int, adc_exact boolean, recall_ge_floor boolean, "
        "rerank_recall_ge_floor boolean, "
        "predicate_consistent boolean, predicate_pushed boolean, "
        "persisted_roundtrip boolean")


def q_diversity_sample(spark, sf_dir):
    """Cluster-stratified prototype selection, verified as assertions
    the oracle can state: (a) at most n_cells rows, one per distinct
    cell; (b) every selected row is its cell's argmax similarity under
    a driver-side numpy replay over the full corpus; (c) the draw is
    deterministic across invocations."""
    import numpy as np

    from tiledb_py_spark.operators.similarity import (IVFIndex,
                                                      diversity_sample)

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    idx = IVFIndex(n_cells=8, metric="cosine").fit(e, "embedding")
    out = sorted((r.cell, r.vec_id) for r in
                 diversity_sample(e, "embedding", "vec_id",
                                  index=idx).collect())
    out2 = sorted((r.cell, r.vec_id) for r in
                  diversity_sample(e, "embedding", "vec_id",
                                   index=idx).collect())
    cells = [c for c, _ in out]
    shape_ok = len(out) <= 8 and len(set(cells)) == len(cells)
    # replay: COSINE to the assigned (unit) centroid, rounded to 9 dp —
    # Spark's sequential fold and numpy's BLAS sum differ in the last
    # ulps and an exact comparison would flap on near-ties
    C = idx.centroids
    vecs = {r.vec_id: np.asarray(r.embedding) for r in
            e.select("vec_id", "embedding").collect()}
    best = {}
    for vid, v in vecs.items():
        nrm = float(np.linalg.norm(v))
        if nrm == 0:
            continue
        dots = C @ v
        cell = int(dots.argmax())
        cand = (round(float(dots[cell]) / nrm, 9), -vid)
        if cell not in best or cand > best[cell][0]:
            best[cell] = (cand, vid)
    argmax_ok = all(c in best and best[c][1] == vid for c, vid in out)
    return spark.createDataFrame(
        [(bool(shape_ok), bool(argmax_ok), bool(out == out2))],
        "shape_ok boolean, per_cell_argmax boolean, deterministic boolean")


def q_array_embedding_topk(spark, sf_dir):
    """Similarity search over an ARRAY-stored embedding column: embeddings
    ingested as a sparse array with a var-length float32 attr, cosine
    top-k on its DataFrame surface (engine storage + phase-E operator)."""
    from tiledb_py_spark.operators.similarity import brute_force_topk
    import tiledb_py_spark as tdb

    uri = _embeddings_array(spark, sf_dir)
    A = tdb.open(uri, spark=spark)
    e = A.dataframe().withColumn("embedding",
                                 F.col("embedding").cast("array<double>"))
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = brute_force_topk(e.filter(F.col("vec_id") != 0), "embedding",
                           "vec_id", qv, k=10)
    return (out.withColumn("score", F.round("score", 5))
               .orderBy(F.col("score").desc(), "vec_id"))


def _embeddings_array(spark, sf_dir) -> str:
    import tiledb_py_spark as tdb

    def build(uri):
        pdf = _t(spark, sf_dir, "embeddings").toPandas()
        tdb.from_pandas(uri, pdf, index_dims=["vec_id"])

    return _fixture_array(sf_dir, "embeddings", build)


def q_batch_topk(spark, sf_dir):
    """Per-query top-3 cosine neighbors for the first 5 vectors (broadcast
    crossJoin + per-query window)."""
    from tiledb_py_spark.operators.similarity import batch_topk

    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    qs = e.filter(F.col("vec_id") < 5)
    base = e.filter(F.col("vec_id") >= 5)
    out = batch_topk(base, "embedding", "vec_id", qs, "embedding", "vec_id", k=3)
    return (out.withColumn("score", F.round("score", 5))
               .orderBy("query_id", "rank"))


def q_multimodal_features(spark, sf_dir):
    """Multimodal features, BOTH decode paths end-to-end:

    * fake path — documents' text bytes as opaque payloads through the
      deterministic fake decoder (the compressed-format stand-in);
    * REAL path (round 9) — per-document WAV (int16 PCM, 256 samples
      s_j = ((doc_id*2654435761 + j) % 65536) - 32768) and binary PPM
      (4x4, pixel p_j = (doc_id*31 + 7j) % 256) payloads built
      row-locally, decoded by the real stdlib-wave / pure-numpy parsers
      (strict=True: the fake CANNOT satisfy these rows), reduced to
      mean-amplitude / RMS / pooled-pixel sums.

    Every reduction is EXACT across engines: WAV samples are 15-bit
    dyadics (sums fit float32/float64 mantissas exactly), squares are
    30-bit dyadics, and the oracle replays the generator arithmetic in
    SQL — so a normalization, channel, endianness, or header-offset bug
    in the decoders breaks the hash."""
    import io
    import wave
    from typing import Iterator

    from tiledb_py_spark.operators.multimodal import (audio_stats,
                                                      extract_image_features)

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"), F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"))
    fake = extract_image_features(media, feat_dim=8).select(
        "media_id", "feat_dim",
        F.round(F.aggregate("feature", F.lit(0.0),
                            lambda a, x: a + x), 4).alias("feat_sum"))

    import pandas as pd  # noqa: F811

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            wavs, ppms = [], []
            for did in pdf["media_id"]:
                j = np.arange(256, dtype=np.int64)
                s = (((int(did) * 2654435761 + j) % 65536) - 32768) \
                    .astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(s.tobytes())
                wavs.append(buf.getvalue())
                px = ((int(did) * 31 + np.arange(48, dtype=np.int64) * 7)
                      % 256).astype(np.uint8)
                ppms.append(b"P6\n4 4\n255\n" + px.tobytes())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "wav": wavs, "ppm": ppms})

    built = media.select("media_id").mapInPandas(
        build, schema="media_id long, wav binary, ppm binary")
    nulls = [F.lit(None).cast("string").alias("mime"),
             F.lit(None).cast("int").alias("width"),
             F.lit(None).cast("int").alias("height"),
             F.lit(None).cast("int").alias("duration_ms")]
    audio = audio_stats(
        built.select("media_id", F.lit("audio").alias("kind"),
                     F.col("wav").alias("content"), *nulls),
        strict=True)
    img = extract_image_features(
        built.select("media_id", F.lit("image").alias("kind"),
                     F.col("ppm").alias("content"), *nulls),
        feat_dim=8, resize_hw=(4, 4), strict=True).select(
        "media_id",
        F.aggregate("feature", F.lit(0.0),
                    lambda a, x: a + x).alias("ppm_feat_sum"))
    return (fake.join(audio, "media_id").join(img, "media_id")
                .select("media_id", "feat_dim", "feat_sum",
                        F.col("mean_amplitude").alias("wav_mean_amp"),
                        F.col("rms").alias("wav_rms"), "ppm_feat_sum")
                .orderBy("media_id"))


def q_quality_score(spark, sf_dir):
    """Composite quality gate (rows-only: the linear gate is engine-defined;
    the underlying features are oracle-checked in q_text_quality)."""
    from tiledb_py_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return (quality_score(d, "text")
            .select("doc_id", "quality").orderBy("doc_id"))


def q_token_counts(spark, sf_dir):
    """Whitespace token counting per document."""
    from tiledb_py_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents")
    return (d.select("doc_id", whitespace_token_count("text").alias("n_tokens"))
             .orderBy("doc_id"))


def q_bpe_tokens(spark, sf_dir):
    """BPE-ish subword counting (regex pieces + long-word extras)."""
    from tiledb_py_spark.operators.text import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return (d.select("doc_id", bpe_ish_token_count("text").alias("n_bpe"))
             .orderBy("doc_id"))


def q_text_quality(spark, sf_dir):
    """Quality features: char/token counts, mean word length, dup-token
    ratio (Gopher-style signals)."""
    from tiledb_py_spark.operators.text import quality_features

    d = _t(spark, sf_dir, "documents")
    out = quality_features(d, "text")
    return (out.select("doc_id",
                       "q_n_chars", "q_n_tokens",
                       F.round("q_mean_word_len", 6).alias("mean_word_len"),
                       F.round("q_dup_token_ratio", 6).alias("dup_token_ratio"))
              .orderBy("doc_id"))


def q_language_id(spark, sf_dir):
    """Language-ID heuristic counts per predicted language.  The fold
    (first language in en/de/fr/es/it order with the max stopword-hit
    ratio, 'und' when nothing hits) is replicated as argmax SQL."""
    from tiledb_py_spark.operators.text import language_id_df

    d = _t(spark, sf_dir, "documents")
    return (language_id_df(d, "text")
             .groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))
             .orderBy("lang_pred"))


def q_unigram_surprisal(spark, sf_dir):
    """Corpus-statistics quality score: mean -ln(p(token)) per doc under
    the corpus's own unigram distribution (whitespace tokens, oracle
    replays the identical two-pass computation)."""
    from tiledb_py_spark.operators.text import unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = unigram_surprisal(d.filter(F.length(F.trim("text")) > 0),
                            "text", "doc_id", tokens_col=ws)
    return (out.select("doc_id", F.round("surprisal", 5).alias("surprisal"),
                       "n_tokens")
               .orderBy("doc_id"))


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition filters: dup-line fraction / dup-line char
    fraction (pseudo-lines injected every 8 tokens so the line stats are
    non-trivial on the single-line corpus), top-{2,3}-gram char
    coverage, and positionally-masked dup-{5,10}-gram char coverage —
    one row-local Arrow-batched UDF; the oracle replays the identical
    accounting with unnest + window SQL."""
    from tiledb_py_spark.operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # the sf parquet is one split; the operator is row-local by design so
    # nothing else would fan it out across cores — at scale the input
    # arrives in thousands of splits and this repartition disappears
    d = d.repartition(spark.sparkContext.defaultParallelism)
    d = d.withColumn("text",
                     F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"))
    out = repetition_stats(d, "text", top_ns=(2, 3), dup_ns=(5, 10))
    return (out.select(
        "doc_id", "r_n_lines",
        F.round("r_dup_line_frac", 6).alias("dup_line_frac"),
        F.round("r_dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("r_top2gram_char_frac", 6).alias("top2gram_char_frac"),
        F.round("r_top3gram_char_frac", 6).alias("top3gram_char_frac"),
        F.round("r_dup5gram_char_frac", 6).alias("dup5gram_char_frac"),
        F.round("r_dup10gram_char_frac", 6).alias("dup10gram_char_frac"))
        .withColumnRenamed("r_n_lines", "n_lines")
        .orderBy("doc_id"))


def q_clean_lines(spark, sf_dir):
    """C4-style line cleaning: pseudo-lines every 8 tokens, then keep
    only >= 8-word lines free of blockwords; doc-level block flag on a
    phrase / curly brace.  The oracle replays the list filter."""
    from tiledb_py_spark.operators.text import clean_lines

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    d = d.withColumn("text",
                     F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"))
    out = clean_lines(d, "text", min_words=8,
                      line_blocklist=("query", "window"),
                      require_terminal_punct=False,
                      doc_blocklist=("customer query",), block_curly=True)
    return (out.select("doc_id", "clean_text", "n_lines_kept",
                       "n_lines_dropped", "doc_blocked")
               .orderBy("doc_id"))


def q_line_dedup(spark, sf_dir):
    """LINE-level cross-document dedup: pseudo-lines every 3 tokens
    (short enough that the synthetic vocabulary repeats lines across
    docs), any line in >= 2 distinct docs removed everywhere; rebuilt
    text hash-verified against DuckDB's identical mask."""
    from tiledb_py_spark.operators.dedup import (md5_hash60,
                                                 remove_repeated_lines)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    d = d.withColumn("text",
                     F.regexp_replace("text", r"((?:\S+ ){2}\S+) ", "$1\n"))
    out = remove_repeated_lines(d, "text", "doc_id", min_docs=2,
                                line_hash=md5_hash60)
    return out.orderBy("doc_id")


def q_sessionize(spark, sf_dir):
    """Per-event session assignment (gap > 30 min starts a new session):
    session ordinal + event ordinal per user, one shuffle on the user
    key; the oracle replays the lag/cumsum/row_number windows."""
    from tiledb_py_spark.streaming.events import sessionize

    e = _events(spark, sf_dir)
    out = sessionize(e, by="user_id", ts_col="ts", gap_minutes=30.0)
    return (out.select("event_id", "user_id", "session_idx", "event_idx")
               .orderBy("event_id"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: hashed-unigram log-likelihood ratio of
    each document between the English-labeled target slice and the raw
    corpus (md5-60bit buckets so DuckDB replays the identical feature
    hashing and smoothing)."""
    from tiledb_py_spark.operators.dedup import md5_hash60
    from tiledb_py_spark.operators.pipeline import importance_weights

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    target = d.filter(F.col("lang") == "en")
    out = importance_weights(d, "text", "doc_id", target,
                             n_buckets=1024, token_hash=md5_hash60)
    return (out.select("doc_id",
                       F.round("log_weight", 5).alias("log_weight"),
                       "n_tokens")
               .orderBy("doc_id"))


def q_dsir_sample(spark, sf_dir):
    """DSIR resampling: deterministic Gumbel-top-k draw of 100 docs with
    probability proportional to importance weight — a pure function of
    (corpus, target, seed) the oracle replays exactly."""
    from tiledb_py_spark.operators.dedup import md5_hash60
    from tiledb_py_spark.operators.pipeline import dsir_resample

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    target = d.filter(F.col("lang") == "en")
    out = dsir_resample(d, "text", "doc_id", target, n=100,
                        n_buckets=1024, token_hash=md5_hash60)
    return (out.select("doc_id", F.round("log_weight", 5).alias("log_weight"))
               .orderBy("doc_id"))


def q_temperature_mix(spark, sf_dir):
    """Temperature (p^alpha) mixture resampling over the language
    strata: alpha=0.5 upsamples tail languages toward sqrt-proportional
    shares.  Rates quantize to 4 decimals so the hash-bucket thresholds
    are integral and DuckDB replays the identical kept multiset."""
    from tiledb_py_spark.operators.pipeline import temperature_mix

    d = _t(spark, sf_dir, "documents")
    out = temperature_mix(d, "lang", ["doc_id"], alpha=0.5)
    return out.select("doc_id", "lang", "copy_id").orderBy("doc_id", "copy_id")


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 over documents + brute-force cosine over
    the aligned embeddings table (doc_id == vec_id), each arm truncated
    to 50 candidates ranked on its 5-dp-rounded score (id tiebreak),
    fused by reciprocal rank (rrf_k=60).  Each arm is one corpus scan
    collapsed via TakeOrdered; the fusion is candidate-sized.  The
    oracle replays both arms and the RRF sum in SQL."""
    from tiledb_py_spark.operators.retrieval import hybrid_search

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    e = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = hybrid_search(d, e.filter(F.col("vec_id") != 0),
                        ["query", "window", "spark"], qv,
                        k=10, candidates=50, tokens_col=ws)
    return out.select("doc_id",
                      F.col("text_rank").cast("long").alias("text_rank"),
                      F.col("vec_rank").cast("long").alias("vec_rank"),
                      "rrf")


def q_leakage_split(spark, sf_dir):
    """Near-dup-leakage-safe train/val/test split: 1-gram Jaccard pairs
    (same graph as dedup_clusters) -> connected components -> hash the
    CLUSTER representative, so a doc and its near-copy can never
    straddle a split.  The oracle replays the recursive-CTE closure and
    the identical portable md5 bucketing on the rep key."""
    from tiledb_py_spark.operators.dedup import ngram_jaccard_pairs
    from tiledb_py_spark.operators.pipeline import leakage_safe_split

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=1,
                                threshold=0.7)
    out = leakage_safe_split(d, pairs, "doc_id",
                             {"train": 0.8, "val": 0.1, "test": 0.1},
                             seed=42)
    return out.select("doc_id", "cluster_rep", "split").orderBy("doc_id")


def q_attribution(spark, sf_dir):
    """First/last-touch attribution (view/click -> purchase, 1-day
    lookback): one entity-key Exchange, then two ``searchsorted``
    probes per conversion into the user's sorted touches, no join.
    The oracle answers the same question with two frame-sharing RANGE
    window min/max aggregates over a zero-padded (ts_us, id) string
    key."""
    from tiledb_py_spark.streaming.events import attribution

    e = _events(spark, sf_dir)
    return attribution(e, ["view", "click"], "purchase",
                       lookback="1 day").orderBy("user_id",
                                                 "conversion_id")


def q_time_resample(spark, sf_dir):
    """Per-user fixed-grid resampling (2-hour buckets, forward fill):
    TWO Exchanges total — the (user, bucket) aggregation then one lag
    window; gap buckets are generated row-locally from the lag via
    sequence+explode (no calendar table, no range join).  The oracle
    replays the identical lag+generate_series construction."""
    from tiledb_py_spark.streaming.events import time_resample

    e = _events(spark, sf_dir).filter(F.col("user_id") < 50)
    out = time_resample(e, "value", by="user_id", ts_col="ts",
                        interval="2 hours", fill="ffill")
    return out.orderBy("user_id", "bucket")


def q_bm25(spark, sf_dir):
    """BM25 relevance scoring for a 3-term query over the documents
    corpus — the Lucene/Elastic default weighting, replayed exactly in
    SQL (same smoothed idf, same length normalization)."""
    from tiledb_py_spark.operators.retrieval import bm25_scores

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = bm25_scores(d, "text", "doc_id", ["query", "window", "spark"],
                      tokens_col=ws)
    return (out.select("doc_id", F.round("score", 5).alias("score"))
               .orderBy("doc_id"))


def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 characteristic terms by smoothed TF-IDF,
    rank stabilized by (rounded score desc, term asc) so DuckDB's
    QUALIFY replays the identical ranking."""
    from tiledb_py_spark.operators.retrieval import tfidf_top_terms

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = tfidf_top_terms(d, "text", "doc_id", k=3, tokens_col=ws)
    return out.orderBy("doc_id", "rank")


def q_incremental_dedup(spark, sf_dir):
    """Continuous-ingest dedup against persisted fingerprint state:
    batch 1 (doc_id < 250) commits its content fingerprints to a fresh
    state array; batch 2 (doc_id >= 200) must drop every doc whose
    normalized text already appeared (the 200-249 overlap plus any
    cross-batch content dup) and keep one copy per within-batch dup.
    The state lives in a per-call temp dir so the gate is a pure
    function of the inputs; the oracle replays both batches in SQL."""

    from tiledb_py_spark.operators.dedup import incremental_exact_dedup

    state = os.path.join(_gate_tmp("incremental_dedup"), "state")
    d = _t(spark, sf_dir, "documents")
    b1 = d.filter(F.col("doc_id") < 250)
    b2 = d.filter(F.col("doc_id") >= 200)
    incremental_exact_dedup(b1, "text", "doc_id", state).count()
    out = incremental_exact_dedup(b2, "text", "doc_id", state)
    return out.select("doc_id").orderBy("doc_id")


def q_quantile_sketch(spark, sf_dir):
    """Mergeable approximate quantiles (percentile_approx / GK sketch)
    over l_extendedprice per l_returnflag, VERIFIED exactly: the gate
    recounts each returned quantile's achieved rank fraction and
    asserts |rank - p| <= rel_err (the sketch's documented guarantee).
    Row values the oracle replays: the per-group row count (exact) and
    the within_bound flag (true everywhere)."""
    from tiledb_py_spark.operators.sketches import approx_quantiles

    li = _t(spark, sf_dir, "lineitem")
    out = approx_quantiles(li, "l_extendedprice",
                           [0.1, 0.5, 0.9, 0.99], rel_err=0.01,
                           by="l_returnflag", verify=True)
    n = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"))
    return (out.join(n, on="l_returnflag")
               .select("l_returnflag",
                       F.col("prob").cast("double").alias("prob"),
                       "n_rows", "within_bound")
               .orderBy("l_returnflag", "prob"))


def q_distinct_sketch(spark, sf_dir):
    """HyperLogLog++ distinct-text cardinality per document source —
    the constant-state answer to COUNT(DISTINCT) at n-gram/URL
    cardinality — verified against the exact count computed alongside:
    the oracle replays the exact counts and the gate asserts the HLL
    estimate landed within 3x the requested rsd."""
    from tiledb_py_spark.operators.sketches import approx_distinct

    d = _t(spark, sf_dir, "documents")
    out = approx_distinct(d, "text", by="source", rsd=0.02, verify=True)
    # 3x-rsd is the asymptotic bound; tiny sf0.001 groups (~25 docs)
    # get an absolute floor of 3 — HLL++'s variance guarantee is a
    # standard deviation, not a small-n bound
    ok = (F.col("rel_err") <= 0.06) | \
        (F.abs(F.col("approx_nd") - F.col("exact_nd")) <= 3)
    return (out.select("source", "exact_nd", ok.alias("within_3rsd"))
               .orderBy("source"))


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) data layout over (l_partkey, l_suppkey): bucketize
    both dims to 256 levels between their global min/max, bit-interleave,
    and assign rows to 64 files by code prefix.  The returned per-file
    min/max spans ARE the parquet footer stats a scan planner prunes on —
    tight on BOTH dimensions simultaneously (each file covers ~1/8 of
    either dim's domain vs. the full domain under a single-column sort).
    The oracle replays the identical integer bucketization + unrolled
    bit-interleave in ANSI SQL.  Writer-side counterpart of the reference
    engine's space-filling cell order (tiledb array_schema cell_order /
    'hilbert'; reader side: tiledb_py_spark/hilbert.py)."""
    from tiledb_py_spark.operators.layout import zorder_file_stats

    li = _t(spark, sf_dir, "lineitem")
    return zorder_file_stats(li, ["l_partkey", "l_suppkey"],
                             bits=8, file_bits=6)


def q_skew_join(spark, sf_dir):
    """Skew-safe salted join: lineitem x supplier with the supplier side
    replicated over 8 salts and each lineitem row routed to a
    deterministic salt, so a hot l_suppkey spreads over 8 reducer tasks
    instead of pinning one.  Result is IDENTICAL to the plain equi-join
    (the oracle), aggregated per supplier nation.  Use case: the
    broadcast-ineligible build side (too big to broadcast, hot probe
    keys) that AQE's sort-merge skew split does not cover."""
    from tiledb_py_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier") \
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    j = salted_join(li, sup, on=["l_suppkey"], n_salts=8)
    return (j.groupBy("s_nationkey")
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                  F.countDistinct("l_suppkey").cast("long")
                   .alias("n_suppliers"))
             .orderBy("s_nationkey"))


def q_rolling_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection per user: flag events deviating
    > 2 sample stddevs from the trailing-20-event baseline (current row
    excluded so outliers can't mask themselves; >= 5 prior observations
    required).  ONE entity-key Exchange, three frame-sharing window
    aggregates, row-local filter; the oracle replays the same ROWS-frame
    windows.  value_decimals=2 (events.value is 2-dp): frame aggregates
    run on scaled int64 so the emitted doubles are bit-identical across
    engines — a float sliding avg is only summation-order-reproducible,
    and a 1-ulp shift flips the 4-dp rounding (the r8 driver red)."""
    from tiledb_py_spark.streaming.events import rolling_anomaly

    e = _events(spark, sf_dir)
    return rolling_anomaly(e, window=20, min_periods=5, threshold=2.0,
                           value_decimals=2) \
        .orderBy("user_id", "event_id")



def _gate_tmp(name: str) -> str:
    """Deterministic per-gate scratch root, WIPED at gate start.  The
    old per-call tempfile.mkdtemp dirs were never cleaned — bench runs
    each gate 2-3x and a multi-round sf1 session leaked gigabytes of
    staged events/state arrays until /tmp filled mid-sweep.  One live
    copy per gate, self-cleaning on the next run."""
    import shutil

    root = f"/tmp/tdbps_gates/{name}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def _idempotent_sink(sink: str, n_triggers: list):
    """foreachBatch parquet sink that survives micro-batch RETRIES: each
    batch overwrites its OWN subdir (a plain mode('append') would write
    the rows twice when Spark re-runs a batch after a post-append
    failure — a flaky gate red on correct code)."""
    def sink_batch(df, batch_id):
        n_triggers.append(batch_id)
        df.write.mode("overwrite").parquet(
            os.path.join(sink, f"b{batch_id}"))
    return sink_batch


def _read_sink(spark, sink: str):
    return spark.read.option("recursiveFileLookup", "true").parquet(sink)


def _stage_two_trigger_stream(df, src: str,
                              order=("ts", "event_id")) -> None:
    """Stage ``df`` as TWO parquet files split at the midpoint of the
    global ``order``, via a distributed ``df.write`` — no driver-side
    materialization (VERDICT r11 item 7 closed the last
    ``.toPandas()`` in any gate).  The split boundary is all that
    matters for the batch/stream bit-identity: every b1 row precedes
    every b2 row in ``order``, and the stateful twins sort within each
    micro-batch themselves.  The row_number window is a one-task total
    order — gate-local staging only; a production stream reads its own
    source (at scale you'd split on a bucketed key range, not a global
    rank)."""
    import glob
    import shutil

    from pyspark.sql import Window

    os.makedirs(src, exist_ok=True)
    ranked = df.withColumn(
        "__rn", F.row_number().over(Window.orderBy(*order)))
    cut = ranked.count() // 2
    # b1 written before b2: FileStreamSource picks oldest-first, so
    # trigger 1 sees exactly the first half of the global order
    for name, pred in (("b1.parquet", F.col("__rn") <= cut),
                       ("b2.parquet", F.col("__rn") > cut)):
        tmpd = os.path.join(src, "__stage_tmp")
        (ranked.filter(pred).drop("__rn").coalesce(1)
               .write.mode("overwrite").parquet(tmpd))
        part = glob.glob(os.path.join(tmpd, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmpd)


def q_stream_replay(spark, sf_dir):
    """STREAMING driver-artifact row (VERDICT r10 item 4): the events
    table replayed as a TWO-TRIGGER file stream (maxFilesPerTrigger=1,
    availableNow) through ``rolling_anomaly_stream`` via foreachBatch
    into a parquet sink; the sink is returned as the gate's DataFrame
    and must hash-equal the batch ``rolling_anomaly`` SQL replay — the
    same oracle the batch gate carries.  Per-user trailing-frame state
    persists across the trigger boundary (applyInPandasWithState), so
    every flag whose baseline straddles the split is judged against
    state accrued in trigger 1 — the batch/stream twin story, now
    driver-verified rather than pytest-only.  The staging split is on
    global (ts, event_id) order, so arrival order equals the batch
    window order and the pinned bit-identity applies."""

    from tiledb_py_spark.streaming.stateful import rolling_anomaly_stream

    e = _events(spark, sf_dir)
    root = _gate_tmp("stream_replay")
    src, sink, ckpt = (os.path.join(root, p)
                       for p in ("src", "sink", "ckpt"))

    # two files split at the midpoint of the global (ts, event_id)
    # order, staged via a distributed df.write (no driver-side
    # materialization); trigger 1 gets the first half, trigger 2 the
    # rest
    _stage_two_trigger_stream(
        e.select("user_id", "event_id", "value", "ts"), src)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    n_triggers = []

    sink_batch = _idempotent_sink(sink, n_triggers)

    q = (rolling_anomaly_stream(stream, window=20, min_periods=5,
                                threshold=2.0, value_decimals=2)
         .writeStream.outputMode("append")
         .foreachBatch(sink_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream gate timed out after 600s; sink "
                           "would be partial")
    if len(n_triggers) < 2:
        raise RuntimeError(
            f"stream_replay needs >= 2 triggers to cross the state "
            f"boundary; got {len(n_triggers)}")
    return (_read_sink(spark, sink)
            .select("user_id", "event_id", "ts", "value",
                    "baseline_mean", "baseline_std", "zscore")
            .orderBy("user_id", "event_id"))


def q_stream_sessionize(spark, sf_dir):
    """Second streaming twin driver row: ``sessionize_stream`` run as a
    TWO-TRIGGER file stream (same staging shape as stream_replay);
    per-user (last_ts, session_idx, event_idx) state crosses the
    trigger boundary, so a session spanning the split keeps one
    ordinal and its events number consecutively.  The oracle is the
    batch ``sessionize`` SQL verbatim — stream equals batch for
    in-order arrival, and the global (ts, event_id) staging order
    guarantees per-user in-order delivery."""

    from tiledb_py_spark.streaming.stateful import sessionize_stream

    e = _events(spark, sf_dir)
    root = _gate_tmp("stream_sessionize")
    src, sink, ckpt = (os.path.join(root, p)
                       for p in ("src", "sink", "ckpt"))
    _stage_two_trigger_stream(e.select("user_id", "event_id", "ts"), src)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    n_triggers = []

    sink_batch = _idempotent_sink(sink, n_triggers)

    q = (sessionize_stream(stream, gap_minutes=30.0)
         .writeStream.outputMode("append")
         .foreachBatch(sink_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream gate timed out after 600s; sink "
                           "would be partial")
    if len(n_triggers) < 2:
        raise RuntimeError(
            f"stream_sessionize needs >= 2 triggers to cross the state "
            f"boundary; got {len(n_triggers)}")
    return (_read_sink(spark, sink)
            .select("event_id", "user_id", "session_idx", "event_idx")
            .orderBy("event_id"))


def q_stream_resample(spark, sf_dir):
    """Third streaming twin driver row (VERDICT r11 item 8): the one
    stateful operator whose emission is WATERMARK-driven rather than
    input-driven — ``time_resample_stream`` flushes a bucket (and the
    gap run it closes) exactly once when the event-time watermark
    passes the bucket end, and an event-time timeout flushes entities
    that went silent.  Two-trigger file stream (same distributed
    staging as stream_replay) with a 0-second watermark; the final
    no-data batch fires the timeouts at watermark = max(ts).  The
    oracle is the batch ``time_resample`` grid CUT at each entity's
    last finalized real bucket (bucket end <= the final watermark, in
    Spark's millisecond watermark domain) — the emission contract
    pinned by ``test_time_resample_stream_matches_batch``."""

    from tiledb_py_spark.streaming.stateful import time_resample_stream

    e = _events(spark, sf_dir).filter(F.col("user_id") < 50)
    root = _gate_tmp("stream_resample")
    src, sink, ckpt = (os.path.join(root, p)
                       for p in ("src", "sink", "ckpt"))
    _stage_two_trigger_stream(
        e.select("user_id", "event_id", "value", "ts"), src)

    schema = spark.read.parquet(src).schema
    # the staged ts round-trips as TIMESTAMP_NTZ; withWatermark needs
    # TIMESTAMP — the cast is value-preserving under the session's
    # pinned UTC timezone (same as the pytest staging)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "0 seconds"))
    n_triggers = []

    sink_batch = _idempotent_sink(sink, n_triggers)

    q = (time_resample_stream(stream, interval_sec=7200)
         .writeStream.outputMode("append")
         .foreachBatch(sink_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream gate timed out after 600s; sink "
                           "would be partial")
    if len(n_triggers) < 2:
        raise RuntimeError(
            f"stream_resample needs >= 2 triggers to cross the state "
            f"boundary; got {len(n_triggers)}")
    return (_read_sink(spark, sink)
            .select("user_id", "bucket", "n_events", "value")
            .orderBy("user_id", "bucket"))


def q_stream_source(spark, sf_dir):
    """Array-as-streaming-source driver row (VERDICT r11 item 4): the
    ``spark.readStream.format("tiledb")`` fragment change feed,
    previously pytest-only.  Three orders slices commit as three
    fragments of a fresh array: slice 0 before the first stream run,
    slices 1-2 BETWEEN runs; the second run resumes from the
    checkpoint and must deliver exactly the two new fragments — the
    union sink then equals the plain SQL union of the three slices,
    each row EXACTLY ONCE (a replayed or skipped fragment changes the
    hash).  Per-call temp array/checkpoint/sink keep the gate a pure
    function of its inputs."""

    from tiledb_py_spark.sources.dataframe_ import from_spark
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)   # idempotent: re-registering replaces the entry
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 4).alias("slice_"),
        "o_totalprice")
    root = _gate_tmp("stream_source")
    arr, sink, ckpt = (os.path.join(root, p)
                       for p in ("arr", "sink", "ckpt"))
    from_spark(arr, o.filter(F.col("slice_") == 0).drop("slice_"),
               index_dims=["o_orderkey"], mode="ingest",
               full_domain=True)

    def run_stream():
        q = (spark.readStream.format("tiledb").load(arr)
             .writeStream
             .foreachBatch(_idempotent_sink(sink, []))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("stream_source run timed out; sink "
                               "would be partial")

    run_stream()                     # delivers fragment 1 (slice 0)
    for s in (1, 2):                 # committed between runs
        from_spark(arr, o.filter(F.col("slice_") == s).drop("slice_"),
                   index_dims=["o_orderkey"], mode="append")
    run_stream()                     # resumes: exactly the new two
    return (_read_sink(spark, sink)
            .select("o_orderkey", "o_totalprice")
            .orderBy("o_orderkey"))


def q_stream_sink(spark, sf_dir):
    """Native streaming SINK driver row (VERDICT r12 item 7): a
    two-trigger stateless ETL (filter + derived column over orders)
    written through ``writeStream.format("tiledb")`` — executor tasks
    stage Arrow pieces, the driver commit publishes ONE batchId-marked
    fragment per micro-batch — then the array is read back through the
    datasource.  The ``stream_source`` pattern in reverse; oracle =
    the batch SQL of the same transform.  Before returning, the gate
    asserts the sink's commit granularity: exactly two fragments, both
    carrying the ``_sb<batchId>_`` idempotency marker, and an empty
    staging dir (leftover pieces = a leaked abort)."""

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.sources.dataframe_ import from_spark
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    root = _gate_tmp("stream_sink")
    arr, src, ckpt = (os.path.join(root, p)
                      for p in ("arr", "src", "ckpt"))
    # sink target must pre-exist with the TRANSFORMED schema (the
    # documented sink contract); full domain so any orderkey fits
    from_spark(arr,
               o.limit(1).select(
                   "o_orderkey", "o_custkey",
                   (F.col("o_totalprice") * F.lit(0.5)).alias("net")),
               index_dims=["o_orderkey"], mode="schema_only",
               full_domain=True)
    _stage_two_trigger_stream(o, src, order=("o_orderkey",))

    schema = spark.read.parquet(src).schema
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src)
         .filter(F.col("o_totalprice") > 1000.0)
         .select("o_orderkey", "o_custkey",
                 (F.col("o_totalprice") * F.lit(0.5)).alias("net"))
         .writeStream.format("tiledb").option("path", arr)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream_sink timed out after 600s; the "
                           "array would be partial")
    frags = mf.read_manifest(arr).fragments
    if len(frags) != 2 or not all("_sb" in f.name for f in frags):
        raise RuntimeError(
            f"stream_sink expected 2 batchId-marked fragments, got "
            f"{[f.name for f in frags]}")
    stage = os.path.join(arr, "__stream_stage")
    if os.path.isdir(stage) and os.listdir(stage):
        raise RuntimeError("stream_sink left staged pieces behind")
    return (spark.read.format("tiledb").load(arr)
            .select("o_orderkey", "o_custkey", "net")
            .orderBy("o_orderkey"))


_CMS_PROBES = ["spark", "scan", "join", "write", "row", "vector"]


def q_cms_counts(spark, sf_dir):
    """Count-Min point-frequency probes over the corpus token stream:
    per-partition d x w counter tables merged by addition (CMS is
    linear; zero shuffles), then fixed probe tokens estimated and
    checked against their EXACT counts — est in [true, true + eps*n]
    (fixed seed).  The oracle replays the exact counts; bounds_ok is
    the sketch guarantee."""
    from tiledb_py_spark.operators.sketches import cms_digest, cms_query

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok")) \
            .filter(F.col("tok") != "")
    eps = 0.002
    sk = cms_digest(toks, "tok", eps=eps, delta=0.01)
    est = cms_query(sk, _CMS_PROBES)
    total = sk[2]
    exact = {r.tok: r.n for r in
             (toks.filter(F.col("tok").isin(_CMS_PROBES))
                  .groupBy("tok").agg(F.count(F.lit(1)).cast("long")
                                      .alias("n"))).collect()}
    rows = [(t, int(exact.get(t, 0)),
             bool(exact.get(t, 0) <= est[t] <= exact.get(t, 0)
                  + eps * total))
            for t in sorted(_CMS_PROBES)]
    return spark.createDataFrame(
        rows, "token string, n_exact long, bounds_ok boolean")


def q_incremental_compact(spark, sf_dir):
    """State-array COMPACTION for continuous-ingest dedup (the
    lifecycle gate): two ingest batches commit fingerprint fragments,
    ``compact_state`` folds them into ONE via the engine's
    consolidate+vacuum, and a third batch must answer IDENTICALLY to
    the never-compacted three-batch run — while the compacted state
    actually reads fewer fragments.  Verified as assertions the oracle
    can state: (a) batch-3 survivors equal run-for-run; (b) the
    compacted state holds exactly 1 fragment before batch 3 (vs 2
    uncompacted) and 2 after (vs 3); (c) the near-dup variant (var-
    length signature attr) round-trips the fold the same way."""

    from tiledb_py_spark.fragment import array_fragments
    from tiledb_py_spark.operators.dedup import (compact_state,
                                                 incremental_exact_dedup,
                                                 incremental_neardup)

    root = _gate_tmp("incremental_compact")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = d.count()
    b = [d.filter((F.col("doc_id") >= i * n // 3)
                  & (F.col("doc_id") < (i + 1) * n // 3)) for i in range(3)]

    sa, sb = os.path.join(root, "a"), os.path.join(root, "b")
    for s in (sa, sb):
        incremental_exact_dedup(b[0], "text", "doc_id", s).count()
        incremental_exact_dedup(b[1], "text", "doc_id", s).count()
    removed = compact_state(sb, spark=spark)
    frags_compacted = len(array_fragments(sb))
    got_a = sorted(r.doc_id for r in
                   incremental_exact_dedup(b[2], "text", "doc_id",
                                           sa).collect())
    got_b = sorted(r.doc_id for r in
                   incremental_exact_dedup(b[2], "text", "doc_id",
                                           sb).collect())
    exact_identical = bool(got_a == got_b)
    frag_counts_ok = bool(removed >= 1 and frags_compacted == 1
                          and len(array_fragments(sa)) == 3
                          and len(array_fragments(sb)) == 2)

    kw = dict(num_perm=16, bands=8, shingle_k=3, threshold=0.8)
    na, nb = os.path.join(root, "na"), os.path.join(root, "nb")
    for s in (na, nb):
        incremental_neardup(b[0], "text", "doc_id", s, **kw).count()
        incremental_neardup(b[1], "text", "doc_id", s, **kw).count()
    compact_state(nb, spark=spark)
    gna = sorted(r.doc_id for r in
                 incremental_neardup(b[2], "text", "doc_id", na,
                                     **kw).collect())
    gnb = sorted(r.doc_id for r in
                 incremental_neardup(b[2], "text", "doc_id", nb,
                                     **kw).collect())
    neardup_identical = bool(gna == gnb and len(array_fragments(nb)) == 2)

    return spark.createDataFrame(
        [(exact_identical, frag_counts_ok, neardup_identical)],
        "exact_identical boolean, frag_counts_ok boolean, "
        "neardup_identical boolean")


def q_incremental_neardup(spark, sf_dir):
    """Continuous-ingest NEAR-dup against persisted MinHash-signature
    state, verified as assertions the oracle can state: (a) two batches
    (doc_id < 250, >= 250) run through the state array equal the batch
    ``minhash_dedup(verify="signature")`` answer on the union (monotone
    batch ids, default caps unbound at this scale); (b) the state holds
    exactly one num_perm-slot signature row per INGESTED document —
    dropped docs included, signature bytes only (no text); (c) batch 2
    actually dropped cross-batch near-dups (the synthetic corpus
    carries a near-dup rate across the id range)."""

    from tiledb_py_spark import highlevel as hl
    from tiledb_py_spark.operators.dedup import (incremental_neardup,
                                                 minhash_dedup)

    state = os.path.join(_gate_tmp("incremental_neardup"), "state")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()
    cut = n_docs // 2   # sf-proportional split keeps batch 2 non-empty
    b1 = d.filter(F.col("doc_id") < cut)
    b2 = d.filter(F.col("doc_id") >= cut)
    kw = dict(num_perm=64, bands=16, shingle_k=3, threshold=0.8)
    o1 = sorted(r.doc_id for r in
                incremental_neardup(b1, "text", "doc_id", state,
                                    **kw).collect())
    o2 = sorted(r.doc_id for r in
                incremental_neardup(b2, "text", "doc_id", state,
                                    **kw).collect())
    ref = sorted(r.doc_id for r in
                 minhash_dedup(d, "text", "doc_id", verify="signature",
                               **kw).collect())
    union_match = bool(sorted(o1 + o2) == ref)

    st = hl.open(state, spark=spark).dataframe() \
           .select("id", F.size("sig").alias("n")).collect()
    state_complete = bool(
        len(st) == n_docs and all(r.n == 64 for r in st)
        and len({r.id for r in st}) == n_docs)
    # the state can only ever drop MORE than a standalone batch-2 run
    std2 = {r.doc_id for r in
            minhash_dedup(b2, "text", "doc_id", verify="signature",
                          **kw).collect()}
    state_monotone = bool(set(o2) <= std2)
    return spark.createDataFrame(
        [(union_match, state_complete, state_monotone)],
        "union_matches_batch boolean, state_complete boolean, "
        "state_drops_monotone boolean")


def q_incremental_e2e(spark, sf_dir):
    """Incremental-refresh composition END-TO-END (VERDICT r10 item 2):
    the engine's three incremental state stories run as ONE chain per
    ingest batch — new batch → exact dedup against persisted
    fingerprint state → near-dedup of the exact survivors against
    persisted signature state → ANN append of the survivors'
    embeddings to a frozen-centroid IVF state — then
    ``materialize_packs`` of the cumulative survivor set; two batches
    must reproduce the single-shot batch-union replay (composition is
    where column contracts break — the round-7 lesson).  Assertions
    the oracle states:
      (a) survivor ids after both batches == the batch replay (exact
          first-wins + signature-verified minhash on the union);
      (b) pack contents (id-ordered concat-then-chunk) over the
          cumulative survivors bit-equal the replay packs;
      (c) IVF top-10 over the two appended state fragments bit-equals
          a scratch search over the replay survivors' embeddings —
          before AND after ``compact_state`` folds the fragments;
      (d) fingerprint state == one row per surviving doc, signature
          state == one row per INGESTED doc (drops keep contributing
          edges)."""

    from tiledb_py_spark import highlevel as hl
    from tiledb_py_spark.fragment import array_fragments
    from tiledb_py_spark.operators.dedup import (compact_state,
                                                 incremental_exact_dedup,
                                                 incremental_neardup,
                                                 minhash_dedup)
    from tiledb_py_spark.operators.pipeline import materialize_packs
    from tiledb_py_spark.operators.similarity import IVFIndex
    from tiledb_py_spark.operators.text import fingerprint

    root = _gate_tmp("incremental_e2e")
    fp_state = os.path.join(root, "fp")
    sig_state = os.path.join(root, "sig")
    ivf_state = os.path.join(root, "ivf")

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    e = (_t(spark, sf_dir, "embeddings")
         .withColumn("embedding", F.col("embedding").cast("array<double>")))
    n_docs = d.count()
    cut = n_docs // 2
    batches = [d.filter(F.col("doc_id") < cut),
               d.filter(F.col("doc_id") >= cut)]
    kw = dict(num_perm=32, bands=16, shingle_k=3, threshold=0.8)
    # centroids freeze BEFORE batch 1 (fit on historical vectors);
    # both the incremental appends and the replay scratch search use
    # the same frozen model, as a real refresh pipeline would
    idx = IVFIndex(n_cells=8, n_probe=8).fit(e, "embedding")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]

    # --- incremental side: the chain, once per batch ---
    surv_ids, surv_frames = [], []
    for b in batches:
        s1 = incremental_exact_dedup(b, "text", "doc_id", fp_state)
        # persist the survivor FRAME: it feeds the id collect here, the
        # ANN append, AND the packing assertion below — and its plan
        # re-derives through the pinned state reads (the composed
        # chain's columns, not a copy of the replay)
        s2 = incremental_neardup(s1, "text", "doc_id", sig_state,
                                 **kw).persist()
        ids = sorted(r.doc_id for r in s2.select("doc_id").collect())
        surv_ids.extend(ids)
        surv_frames.append(s2)
        emb_b = e.join(
            spark.createDataFrame([(i,) for i in ids], "vec_id long"),
            on="vec_id")
        idx.append(emb_b, "embedding", "vec_id", ivf_state,
                   keep_cols=["label"])
    surv_inc = sorted(surv_ids)

    # --- batch-union replay: same operators, single shot ---
    fp = d.withColumn("__fp", fingerprint("text"))
    firsts = fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    exact_rep = fp.join(firsts, on=["__fp", "doc_id"], how="left_semi") \
                  .drop("__fp")
    near_rep = minhash_dedup(exact_rep, "text", "doc_id",
                             verify="signature", **kw)
    surv_rep = sorted(r.doc_id for r in
                      near_rep.select("doc_id").collect())
    survivors_match = bool(surv_inc == surv_rep)

    # --- (b) packing the cumulative survivors vs the replay's ---
    # the INCREMENTAL side packs the union of the per-batch survivor
    # frames (recomputed through the persisted-state chain); the replay
    # side packs the batch-mode survivor frame — a genuine composition
    # check of the columns/rows each pipeline hands to the packer, not
    # two copies of the same id-list join
    toks = F.split(F.trim(F.col("text")), r"\s+")
    def packs(sel):
        out = materialize_packs(sel.select("doc_id", "text"), toks,
                                ["doc_id"], max_tokens=256,
                                pad_token="<pad>")
        return sorted((r.pack_id, tuple(r.pack_tokens), r.n_real,
                       r.n_pad, r.n_docs) for r in out.collect())
    inc_sel = surv_frames[0].unionByName(surv_frames[1])
    packs_match = bool(packs(inc_sel) == packs(near_rep))

    # --- (c) ANN over appended state vs scratch, pre/post compact ---
    def rows(df):
        return [(r.vec_id, r.score) for r in df.collect()]
    emb_rep = e.join(spark.createDataFrame([(i,) for i in surv_rep],
                                           "vec_id long"), on="vec_id")
    scratch = rows(idx.search(emb_rep, "embedding", "vec_id", qv, k=10))
    two_frags = bool(len(array_fragments(ivf_state)) == 2)
    pre = rows(idx.search_state(ivf_state, "embedding", "vec_id", qv,
                                k=10, spark=spark))
    compact_state(ivf_state, spark=spark)
    post = rows(idx.search_state(ivf_state, "embedding", "vec_id", qv,
                                 k=10, spark=spark))
    ann_pre = bool(two_frags and pre == scratch)
    ann_post = bool(post == scratch
                    and len(array_fragments(ivf_state)) == 1)

    # --- (d) state completeness ---
    n_fp = hl.open(fp_state, spark=spark).dataframe().count()
    n_sig = hl.open(sig_state, spark=spark).dataframe().count()
    exact_union = sorted(r.doc_id for r in
                         exact_rep.select("doc_id").collect())
    # fingerprint state: one row per exact-surviving fingerprint;
    # signature state: one row per doc INGESTED by neardup (= every
    # exact survivor, dropped-by-neardup included)
    states_complete = bool(n_fp == len(exact_union)
                           and n_sig == len(exact_union))
    for s in surv_frames:
        s.unpersist()
    return spark.createDataFrame(
        [(bool(len(surv_inc) > 0), survivors_match, packs_match,
          ann_pre, ann_post, states_complete)],
        "nonempty boolean, survivors_match boolean, packs_match boolean, "
        "ann_append_bit_equal boolean, ann_compacted_bit_equal boolean, "
        "states_complete boolean")


def q_bpe_pairs(spark, sf_dir):
    """BPE trainer iteration 0, hash-verified: the corpus-sized
    word-frequency aggregation plus the adjacent character-pair counts
    over it (end-of-word marker on final chars).  This is the only
    SQL-expressible piece of the trainer — it carries the oracle for
    the corpus-scale machinery; the iterative merge loop is checked by
    the bpe_train reference-implementation gate."""
    from tiledb_py_spark.operators.bpe import (bpe_pair_counts,
                                               word_frequencies)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    wf = word_frequencies(d, "text")
    out = bpe_pair_counts(wf)
    return (out.select(F.col("left").alias("pleft"),
                       F.col("right").alias("pright"), "pair_count")
               .orderBy("pleft", "pright"))


def q_bpe_train(spark, sf_dir):
    """Full BPE vocabulary induction, verified as assertions the oracle
    can state: (a) the 40 merges learned through the distributed
    word-frequency path equal a from-scratch pure-Python BPE run on the
    collected raw text (count-desc, lexicographic tiebreak — stated
    determinism); (b) re-encoding the corpus with the learned merges is
    deterministic across two invocations and yields only symbols
    reachable from the merge table."""
    from tiledb_py_spark.operators.bpe import (END_OF_WORD, bpe_encode_udf,
                                               bpe_train)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    merges = bpe_train(d, "text", n_merges=40, min_freq=2)

    # reference: same algorithm, independent path (raw text -> Counter)
    from collections import Counter
    texts = [r[0] for r in d.select("text").collect()]
    words: dict = {}
    for t in texts:
        for w in t.lower().split():
            syms = tuple(list(w[:-1]) + [w[-1] + END_OF_WORD])
            words[syms] = words.get(syms, 0) + 1
    ref = []
    for _ in range(40):
        pairs: Counter = Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        ref.append((a, b))
        nxt = {}
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + c
        words = nxt
    match = list(merges) == ref

    enc = bpe_encode_udf(merges)
    s1 = d.select(F.explode(enc(F.col("text"))).alias("t")) \
          .groupBy("t").count().orderBy("t").collect()
    s2 = d.select(F.explode(enc(F.col("text"))).alias("t")) \
          .groupBy("t").count().orderBy("t").collect()
    det = s1 == s2
    vocab = {a + b for a, b in merges}
    closed = all(len(r.t) == 1 or r.t in vocab
                 or (r.t.endswith(END_OF_WORD)
                     and len(r.t) - len(END_OF_WORD) <= 1)
                 for r in s1)
    return spark.createDataFrame(
        [(len(merges), bool(match), bool(det), bool(closed))],
        "n_merges int, merges_match_reference boolean, "
        "encode_deterministic boolean, vocab_closed boolean")


def q_quality_classifier(spark, sf_dir):
    """Trainable quality classifier (the GPT-3 / LLaMA "looks like the
    reference corpus" filter — logistic regression over hashed
    unigrams, distributed L-BFGS fit, row-local Arrow scoring),
    verified as assertions the oracle can state: (a) the fit converges;
    (b) an independent numpy gradient-descent fit of the SAME objective
    on the collected slice reaches the same loss (<=1e-3) with
    identical hard predictions; (c) the distributed scoring path
    replays in numpy to <=1e-9 per document; (d) the learned model
    separates the labeled slices (AUC >= 0.99)."""
    import numpy as np

    from tiledb_py_spark.operators.classifier import (fit_quality_classifier,
                                                      quality_scores,
                                                      token_buckets)

    nb = 512
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", "text",
                 F.col("text").contains("vector").cast("int").alias("y"))
         # the gate slice is tiny; 4 partitions keep the ~100 per-
         # iteration optimizer jobs from paying 32-task scheduling each
         .coalesce(4))
    # tol 1e-4 (vs the 1e-6 default): each optimizer step is a Spark
    # job, and the last ~20 steps only polish the 5th decimal of a
    # loss the reference comparison reads at 1e-3
    m = fit_quality_classifier(d, "text", "y", n_buckets=nb, max_iter=40,
                               tol=1e-4)

    scored = quality_scores(d, "text", m)
    pdf = scored.select("doc_id", "y", "quality_score").toPandas() \
                .sort_values("doc_id").reset_index(drop=True)

    # (c) numpy replay of scoring over the same staged bucket arrays
    fe = (d.select("doc_id",
                   F.coalesce(token_buckets("text", nb),
                              F.array().cast("array<int>")).alias("b"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    w = np.asarray(m.weights)
    margins = np.array([m.bias + w[np.asarray(b, dtype=int)].sum()
                        for b in fe.b])
    replay = 1.0 / (1.0 + np.exp(-margins))
    score_replay_ok = bool(
        np.max(np.abs(replay - pdf.quality_score.to_numpy())) <= 1e-9)

    # (b) independent reference: Newton / IRLS on the dense matrix (a
    # different optimizer for the same objective — quadratic
    # convergence, so 20 iterations land at the optimum)
    y = pdf.y.to_numpy(dtype=np.float64)
    N = len(fe)
    Xa = np.zeros((N, nb + 1))
    for i, b in enumerate(fe.b):
        np.add.at(Xa[i], np.asarray(b, dtype=int), 1.0)
    Xa[:, nb] = 1.0   # intercept column
    reg = 1e-4
    rvec = np.append(np.full(nb, reg), 0.0)   # bias unregularized
    wb = np.zeros(nb + 1)
    for _ in range(20):
        mm = Xa @ wb
        p = 1.0 / (1.0 + np.exp(-mm))
        g = Xa.T @ (p - y) / N + rvec * wb
        s = np.clip(p * (1.0 - p), 1e-10, None)
        H = (Xa * s[:, None]).T @ Xa / N + np.diag(rvec)
        wb -= np.linalg.solve(H + 1e-12 * np.eye(nb + 1), g)
    mm = Xa @ wb
    ref_loss = float(np.mean(np.logaddexp(0.0, mm) - y * mm)
                     + 0.5 * reg * wb[:nb] @ wb[:nb])
    wr, br = wb[:nb], wb[nb]
    X = Xa[:, :nb]
    loss_match = bool(abs(ref_loss - m.loss) <= 1e-3)
    pred_match = bool(
        (((X @ wr + br) > 0) == (pdf.quality_score.to_numpy() > 0.5)).all())

    # (d) separation
    pos = pdf.quality_score[pdf.y == 1].to_numpy()
    neg = pdf.quality_score[pdf.y == 0].to_numpy()
    auc = float((pos[:, None] > neg[None, :]).mean()
                + 0.5 * (pos[:, None] == neg[None, :]).mean())
    return spark.createDataFrame(
        [(nb, bool(m.converged), loss_match, pred_match,
          score_replay_ok, bool(auc >= 0.99))],
        "n_buckets int, converged boolean, loss_matches_reference boolean, "
        "predictions_match_reference boolean, scoring_replays boolean, "
        "separates_slices boolean")


def q_unigram_seed(spark, sf_dir):
    """Unigram-LM trainer seeding, hash-verified: the word-frequency
    aggregation (the trainer's one corpus-sized job) expanded to
    substring-piece counts (every 1..6-char substring of each word
    weighted by corpus count).  The SQL-expressible piece of the
    trainer — carries the oracle for the corpus-scale machinery the
    way bpe_pairs anchors bpe_train."""
    from tiledb_py_spark.operators.bpe import (unigram_seed_counts,
                                               word_frequencies)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    wf = word_frequencies(d, "text")
    return unigram_seed_counts(wf, max_piece_len=6).orderBy("piece")


def q_unigram_lm_train(spark, sf_dir):
    """Full unigram-LM (SentencePiece-style) tokenizer induction,
    verified as assertions the oracle can state: (a) the distributed
    word-frequency path equals a raw-text Counter (the corpus-scale
    machinery); (b) training is deterministic across two invocations;
    (c) the learned piece probabilities form a proper distribution;
    (d) the vocabulary respects the size budget and contains every
    corpus character (every word stays segmentable); (e) the Arrow
    Viterbi encoder is OPTIMAL — for every corpus word up to 10 chars
    the score of the segmentation the ENCODER ACTUALLY EMITTED equals
    an exhaustive search over all segmentations (the check consumes
    unigram_encode_udf's own output, so a regression to e.g. greedy
    longest-match flips it — a gate-local DP would not notice); and
    (f) encoding round-trips (concatenated pieces rebuild each
    word)."""
    from collections import Counter
    from math import exp, inf

    from tiledb_py_spark.operators.bpe import (unigram_encode_udf,
                                               unigram_lm_train,
                                               word_frequencies)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    model = unigram_lm_train(d, "text", vocab_size=60, max_piece_len=6)
    det = model == unigram_lm_train(d, "text", vocab_size=60,
                                    max_piece_len=6)
    vocab = dict(model)

    # (a) corpus machinery vs raw-text reference
    wf = {(r.word, r["count"]) for r in
          word_frequencies(d, "text").collect()}
    ref = Counter()
    for (t,) in d.select("text").collect():
        ref.update(t.lower().split())
    wf_match = wf == set(ref.items())

    # (c) + (d)
    mass_ok = abs(sum(exp(lp) for lp in vocab.values()) - 1.0) < 1e-9
    chars = {c for w in ref for c in w}
    size_ok = len(vocab) <= max(60, len(chars)) and chars <= set(vocab)

    # (e) the ENCODER'S OWN segmentation scores vs exhaustive search
    unk = min(vocab.values()) - 100.0

    def brute(w):
        best = -inf
        stack = [(0, 0.0)]
        while stack:
            i, s = stack.pop()
            if i == len(w):
                best = max(best, s)
                continue
            for j in range(i + 1, len(w) + 1):
                lp = vocab.get(w[i:j], unk if j - i == 1 else None)
                if lp is not None:
                    stack.append((j, s + lp))
        return best

    def seg_score(pieces):
        s = 0.0
        for p in pieces:
            lp = vocab.get(p, unk if len(p) == 1 else None)
            if lp is None:
                return -inf
            s += lp
        return s

    # (e)+(f) over the Arrow encoder's actual output: re-derive each
    # word's piece list by walking the doc's token stream against the
    # word lengths — round-trip AND per-word optimality in one pass
    enc = unigram_encode_udf(model)
    rt = d.select(enc(F.col("text")).alias("toks"), "text").collect()
    vit_ok = rt_ok = True
    checked: set = set()
    for r in rt:
        words = r.text.lower().split()
        toks = list(r.toks)
        pos = 0
        for w in words:
            pieces, n = [], 0
            while n < len(w) and pos < len(toks):
                pieces.append(toks[pos])
                n += len(toks[pos])
                pos += 1
            if "".join(pieces) != w:
                rt_ok = False
                break
            if len(w) <= 10 and w not in checked:
                checked.add(w)
                if abs(seg_score(pieces) - brute(w)) >= 1e-9:
                    vit_ok = False
        else:
            if pos != len(toks):
                rt_ok = False
            continue
        break
    return spark.createDataFrame(
        [(60, bool(wf_match), bool(det), bool(mass_ok), bool(size_ok),
          bool(vit_ok), bool(rt_ok))],
        "vocab_budget int, wordfreq_matches_reference boolean, "
        "deterministic boolean, proper_distribution boolean, "
        "vocab_budget_respected boolean, viterbi_optimal boolean, "
        "encode_roundtrips boolean")


def q_winnow(spark, sf_dir):
    """MOSS winnowing fingerprints (k=5 token grams, window=4): each
    window's minimum gram hash, rightmost on ties, deduped — any
    shared token run >= k+window-1 guarantees a shared fingerprint.
    The oracle replays the window-min + rightmost-argmin selection."""
    from tiledb_py_spark.operators.dedup import md5_hash60, winnow_fingerprints

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    out = winnow_fingerprints(d, "text", "doc_id", k=5, window=4,
                              gram_hash=md5_hash60)
    return out.orderBy("doc_id", "pos")


def q_bigram_surprisal(spark, sf_dir):
    """Conditional bigram surprisal: mean -ln(C(w1 w2)/C(w1)-as-prefix)
    per doc under the corpus's own MLE bigram model — catches shuffled
    or gibberish transitions unigram stats cannot.  The oracle replays
    the identical two-count computation."""
    from tiledb_py_spark.operators.text import ngram_surprisal

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = ngram_surprisal(d, "text", "doc_id", n=2, tokens_col=ws)
    return (out.select("doc_id", F.round("surprisal", 5).alias("surprisal"),
                       "n_grams")
               .orderBy("doc_id"))


def q_ppl_buckets(spark, sf_dir):
    """CCNet perplexity tiers: every doc scored by corpus-unigram
    surprisal, then bucketed into equal-population thirds by exact
    percent_rank (ties on the id) — the oracle replays the identical
    ranking in SQL."""
    from tiledb_py_spark.operators.text import perplexity_buckets

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = perplexity_buckets(d, "text", "doc_id", n_buckets=3,
                             tokens_col=ws)
    return (out.select("doc_id", F.round("surprisal", 5).alias("surprisal"),
                       "ppl_bucket")
               .orderBy("doc_id"))


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate against the corpus's own top-20 tokens
    (deterministic vocabulary: frequency desc, token asc) — the domain
    vocabulary-coverage signal; the oracle rebuilds the identical
    vocabulary and per-doc counts."""
    from tiledb_py_spark.operators.text import oov_rate

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    vocab = (d.select(F.explode(ws).alias("word"))
              .groupBy("word").agg(F.count("*").alias("n"))
              .orderBy(F.desc("n"), "word").limit(20)
              .select("word"))
    out = oov_rate(d, "text", "doc_id", vocab, tokens_col=ws)
    return (out.select("doc_id", "n_tokens", "n_oov",
                       F.round("oov_rate", 6).alias("oov_rate"))
               .orderBy("doc_id"))


def q_source_similarity(spark, sf_dir):
    """Stratum-level content audit: exact pairwise Jaccard of each
    language's distinct 3-shingle set (whitespace tokens, md5-60bit
    shingle hashes so DuckDB builds the identical postings)."""
    from tiledb_py_spark.operators.dedup import md5_hash60, source_similarity

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # single-split sf parquet: fan the scan out across cores (at scale
    # the input arrives in many splits and this repartition disappears)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = source_similarity(d, "text", "lang", shingle_k=3,
                            method="exact", gram_hash=md5_hash60,
                            tokens_col=ws)
    return (out.select("src_a", "src_b",
                       F.round("jaccard", 6).alias("jaccard"),
                       "n_a", "n_b", "n_common")
               .orderBy("src_a", "src_b"))


def q_corpus_e2e(spark, sf_dir):
    """Composed corpus-preparation chain, hash-verified END TO END (the
    unit gates verify each operator; this verifies their composition):
    pseudo-line C4 cleaning -> drop docs losing every line -> exact
    dedup on the normalized cleaned text (min doc_id wins) -> 90/10
    hash split -> final (doc_id, split, clean_text).  The oracle
    replays the identical four-stage CTE chain."""
    from tiledb_py_spark.operators.dedup import md5_hash60
    from tiledb_py_spark.operators.pipeline import hash_split
    from tiledb_py_spark.operators.text import clean_lines
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.withColumn("text",
                     F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"))
    cleaned = (clean_lines(d, "text", min_words=8,
                           line_blocklist=("query",),
                           require_terminal_punct=False,
                           doc_blocklist=(), block_curly=False)
               .filter(F.col("n_lines_kept") >= 1))
    fp = md5_hash60(F.lower(F.col("clean_text")))
    w = W.partitionBy(fp).orderBy("doc_id")
    deduped = (cleaned.withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") == 1).drop("__rn"))
    out = hash_split(deduped, ["doc_id"], {"train": 0.9, "val": 0.1})
    return out.select("doc_id", "split", "clean_text").orderBy("doc_id")


def q_pipeline_full_e2e(spark, sf_dir):
    """The FULL corpus-preparation pipeline, hash-verified end to end
    as ONE chain (unit gates verify each operator; `corpus_e2e`
    verifies a 4-stage slice; this verifies the real 8-stage
    composition where column-contract and determinism bugs hide):

      1. C4 line cleaning (pseudo-lines, min 8 words, blocklist)
      2. quality/repetition filter (>= 15 words, distinct-token
         ratio >= 0.3)
      3. MinHash near-dup removal on the cleaned text (the oracle
         replays the exact-Jaccard answer; at threshold 0.85 with
         16x2 banding the LSH miss probability is ~1e-9)
      4. benchmark decontamination (docs 0-49 are the held-out
         benchmark; any shared 5-gram drops the training doc — the
         benchmark docs themselves drop here, as they must)
      5. DSIR selection of 150 docs toward the 'en' slice
         (Gumbel-top-k, portable hashes)
      6. temperature (p^0.5) language rebalancing with copies
      7. 512-token sequence packing per source over (doc_id, copy_id)
      8. deterministic shard assignment (8 shards)

    Final output: one row per kept (doc, copy) with its pack and
    shard — the exact file-to-example mapping a trainer would read.
    The oracle replays the identical eight stages as one CTE chain."""
    from tiledb_py_spark.operators.dedup import (decontaminate, md5_hash60,
                                                 minhash_dedup)
    from tiledb_py_spark.operators.pipeline import (assign_shards,
                                                    dsir_resample,
                                                    pack_sequences,
                                                    temperature_mix)
    from tiledb_py_spark.operators.text import (clean_lines,
                                                whitespace_token_count,
                                                whitespace_tokens)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)

    # 1: pseudo-lines + C4 cleaning (the corpus_e2e setup)
    pl = d.withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"))
    cleaned = (clean_lines(pl, "text", min_words=8,
                           line_blocklist=("query",),
                           require_terminal_punct=False,
                           doc_blocklist=(), block_curly=False)
               .filter(F.col("n_lines_kept") >= 1)
               .select("doc_id", "lang", "source", "clean_text"))

    # 2: quality / repetition signals, row-local
    toks = whitespace_tokens("clean_text")
    quality = (cleaned
               .withColumn("__nw", F.size(toks))
               .withColumn("__dr",
                           F.size(F.array_distinct(toks)) / F.col("__nw"))
               .filter((F.col("__nw") >= 15) & (F.col("__dr") >= 0.3))
               .drop("__nw", "__dr"))

    # 3: near-dup removal on the cleaned text
    deduped = minhash_dedup(quality, "clean_text", "doc_id",
                            num_perm=32, bands=16, shingle_k=3,
                            threshold=0.85)

    # 4: decontamination vs the raw benchmark slice.  The chain up to
    # here is the expensive half (shingle folds + two inverted-index
    # joins) and three downstream driver actions re-evaluate it (DSIR
    # ratio table, temperature counts, the final collect) — cache the
    # survivor set once
    bench = d.filter(F.col("doc_id") < 50)
    decon = decontaminate(
        deduped, bench, "clean_text", "doc_id", bench_text_col="text",
        n=5, gram_hash=md5_hash60,
        tokens_col=whitespace_tokens("clean_text"),
        bench_tokens_col=whitespace_tokens("text")).persist()

    # 5: DSIR selection toward the 'en' slice
    target = decon.filter(F.col("lang") == "en")
    sel = dsir_resample(decon, "clean_text", "doc_id", target, n=150,
                        n_buckets=1024, token_hash=md5_hash60)
    selected = decon.join(sel.select("doc_id"), on="doc_id")

    # 6: temperature rebalancing over languages
    mixed = temperature_mix(selected, "lang", ["doc_id"], alpha=0.5)

    # 7: pack per source over (doc_id, copy_id)
    packed = pack_sequences(
        mixed.withColumn("n_tok", whitespace_token_count("clean_text")),
        "n_tok", ["doc_id", "copy_id"], max_tokens=512, by="source")

    # 8: shard assignment
    final = assign_shards(packed, ["doc_id", "copy_id"], n_shards=8)
    return (final.select("doc_id", "copy_id", "lang", "source",
                         "pack_id", "pack_offset", "shard")
                 .orderBy("doc_id", "copy_id"))


def q_kn_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (the smoothing family
    behind CCNet's KenLM filter), self-scored on the corpus's own
    counts with portable md5 token hashes — the oracle replays the
    discounted ML term, the continuation backoff, the add-one-smoothed
    P_cont, and the document-initial convention exactly."""
    from tiledb_py_spark.operators.dedup import md5_hash60
    from tiledb_py_spark.operators.text import kneser_ney_logprob

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = kneser_ney_logprob(d, "text", "doc_id", token_hash=md5_hash60,
                             tokens_col=ws)
    return (out.select("doc_id", "n_tokens",
                       F.round("log_prob", 4).alias("log_prob"),
                       F.round("ppl", 4).alias("ppl"))
               .orderBy("doc_id"))


def q_kn3_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM perplexity (raw top-level
    counts, continuation counts below, positional lower-order models,
    backoff on unseen continuation contexts) — the oracle replays the
    full three-level recursion on string-keyed tables; the Spark side
    keys on per-token hash tuples (identical up to 2^-64 collisions)."""
    from tiledb_py_spark.operators.text import kneser_ney_trigram_logprob

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    out = kneser_ney_trigram_logprob(d, "text", "doc_id", tokens_col=ws)
    return (out.select("doc_id", "n_tokens",
                       F.round("log_prob", 4).alias("log_prob"),
                       F.round("ppl", 4).alias("ppl"))
               .orderBy("doc_id"))


def q_interval_join(spark, sf_dir):
    """Keyless point-in-interval join (event-to-window attribution):
    clicks matched to promo windows via the grid decomposition — an
    equi join on the time bucket plus the exact residual predicate, no
    nested-loop/cartesian fallback.  The interval set deliberately
    mixes SHORT windows (30 min, grid-replicated) with rare LONG
    windows (2 days, routed to the broadcast path), exercising the
    hybrid split; the oracle is the plain theta join."""
    from tiledb_py_spark.operators.intervals import interval_join
    from tiledb_py_spark.operators.stats_bounds import parquet_range_bounds

    # bucketing range from the ts footer statistics (driver-side, no
    # min/max job — the q_pack_sequences pattern; the range only
    # balances the grid, never changes membership)
    try:
        bounds = parquet_range_bounds(
            os.path.join(sf_dir, "events.parquet"), "ts", 64)
    except Exception:
        bounds = None
    e = _events(spark, sf_dir)
    clicks = (e.filter(F.col("event_type") == "click")
               .select(F.col("event_id").alias("click_id"), "ts"))
    shortw = (e.filter((F.col("event_type") == "purchase")
                       & (F.col("value") > 150))
               .select(F.col("event_id").alias("promo_id"),
                       F.col("ts").alias("s"))
               .withColumn("e", F.col("s") + F.expr("INTERVAL 30 MINUTES")))
    longw = (e.filter((F.col("event_type") == "purchase")
                      & (F.col("value") < 0.5))
              .select(F.col("event_id").alias("promo_id"),
                      F.col("ts").alias("s"))
              .withColumn("e", F.col("s") + F.expr("INTERVAL 2 DAYS")))
    out = interval_join(clicks, shortw.unionByName(longw),
                        on="ts", start="s", end="e", closed="left",
                        interval_cols=["promo_id"], suffix="",
                        bounds=bounds)
    return (out.groupBy("click_id")
               .agg(F.count(F.lit(1)).alias("n_promos"),
                    F.min("promo_id").alias("first_promo"))
               .orderBy("click_id"))


def q_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (incident correlation): purchase
    windows vs error windows, each pair emitted exactly once via the
    first-shared-bucket rule — no dedup shuffle, no cartesian.  Oracle:
    the plain overlap theta join."""
    from tiledb_py_spark.operators.intervals import interval_overlap_join
    from tiledb_py_spark.operators.stats_bounds import parquet_range_bounds

    # bucketing range from the ts footer statistics (no min/max job;
    # balance-only — see q_interval_join)
    try:
        bounds = parquet_range_bounds(
            os.path.join(sf_dir, "events.parquet"), "ts", 64)
    except Exception:
        bounds = None
    e = _events(spark, sf_dir)
    pw = (e.filter((F.col("event_type") == "purchase")
                   & (F.col("value") > 100))
           .select(F.col("event_id").alias("p_id"),
                   F.col("ts").alias("ps"))
           .withColumn("pe", F.col("ps") + F.expr("INTERVAL 20 MINUTES")))
    ew = (e.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("e_id"),
                   F.col("ts").alias("es"))
           .withColumn("ee", F.col("es") + F.expr("INTERVAL 15 MINUTES")))
    out = interval_overlap_join(pw, ew, "ps", "pe", "es", "ee",
                                right_cols=["e_id"], suffix="",
                                bounds=bounds)
    return out.select("p_id", "e_id").orderBy("p_id", "e_id")


def q_self_repeat(spark, sf_dir):
    """Within-document repeated-span removal (8-gram, keep-first):
    every token covered by an 8-gram whose identical gram occurred
    earlier in the SAME document is removed — the row-local repair for
    the self-repetition Gopher's fractions only measure.  The oracle
    replays the first-occurrence window, the span mask, and the
    rebuilt text."""
    from tiledb_py_spark.operators.text import remove_self_repeated_spans

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # amplify: docs 0-24 get their own text appended (a guaranteed
    # self-repeat) so the operator has real work at every sf
    d = d.withColumn(
        "text",
        F.when(F.col("doc_id") < 25,
               F.concat_ws(" ", "text", "text")).otherwise(F.col("text")))
    out = remove_self_repeated_spans(d, "text", n=8)
    return out.select("doc_id", "clean_text", "n_removed").orderBy("doc_id")


def q_pack_materialize(spark, sf_dir):
    """Fixed-length training-sequence MATERIALIZATION (pack_sequences
    assigns; this emits contents): per-source token streams chunked
    every 64 tokens with exact concat-then-chunk semantics — boundary
    documents split across packs — and the final short chunk padded.
    The oracle replays the split arithmetic, the stream-order
    concatenation, and the padding in SQL."""
    from tiledb_py_spark.operators.pipeline import materialize_packs
    from tiledb_py_spark.operators.stats_bounds import parquet_range_bounds
    from tiledb_py_spark.operators.text import whitespace_tokens

    # bucket bounds from the doc_id footer statistics (driver-side, no
    # sampling job — the q_pack_sequences pattern; bounds only balance,
    # never change the answer, and None falls back to the sampled pass)
    try:
        bounds = parquet_range_bounds(
            os.path.join(sf_dir, "documents.parquet"), "doc_id", 64)
    except Exception:
        bounds = None
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    out = materialize_packs(
        d.withColumn("toks", whitespace_tokens("text")),
        "toks", ["doc_id"], max_tokens=64, by="source", pad_token="",
        bounds=bounds)
    return (out.select("source", "pack_id",
                       F.array_join("pack_tokens", " ").alias("pack_text"),
                       "n_real", "n_pad", "n_docs")
               .orderBy("source", "pack_id"))


def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment: shard = portable hash
    of the id modulo 16 — the reproducible file-to-example mapping a
    resumable data loader needs; the oracle recomputes the identical
    hash."""
    from tiledb_py_spark.operators.pipeline import assign_shards

    d = _t(spark, sf_dir, "documents")
    return (assign_shards(d, ["doc_id"], n_shards=16)
            .select("doc_id", "shard").orderBy("doc_id"))


def q_det_shuffle(spark, sf_dir):
    """Deterministic global training shuffle: sort by a seeded portable
    md5-60bit hash of the id — the permutation is a pure function of
    (ids, seed), replayable in any engine (the oracle recomputes the
    identical keys)."""
    from tiledb_py_spark.operators.pipeline import deterministic_shuffle

    d = _t(spark, sf_dir, "documents")
    return (deterministic_shuffle(d, ["doc_id"], seed=42)
            .select("doc_id", "shuffle_key"))


def q_hash_split(spark, sf_dir):
    """Hash-bucket train/val/test split — stable under reruns, row order,
    and partitioning (unlike randomSplit)."""
    from tiledb_py_spark.operators.pipeline import hash_split

    d = _t(spark, sf_dir, "documents")
    out = hash_split(d, ["doc_id"],
                     {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42)
    return out.select("doc_id", "split").orderBy("doc_id")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language subsample (downsample dominant 'en' to
    10%, keep 30% of the rest): kept set is a pure function of
    (doc_id, seed), exactly reproducible in SQL."""
    from tiledb_py_spark.operators.pipeline import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(d, "lang", {"en": 0.1}, ["doc_id"], seed=42,
                            default_fraction=0.3)
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_pack_sequences(spark, sf_dir):
    """Context-window packing (offset mode): documents laid out
    contiguously per source in doc_id order; each doc joins the 512-token
    window its start offset falls in.  One window cumsum per source."""
    from tiledb_py_spark.operators.pipeline import pack_sequences
    from tiledb_py_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", whitespace_token_count("text").alias("n_tok"))
    out = pack_sequences(d, "n_tok", ["doc_id"], max_tokens=512, by="source")
    return (out.select("doc_id", "source", "pack_id", "pack_offset")
               .orderBy("doc_id"))


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (64-token chunks, 16 overlap so
    the small gate docs actually split)."""
    from tiledb_py_spark.operators.pipeline import chunk_documents

    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", ["doc_id"], chunk_tokens=64, overlap=16)
    return out.orderBy("doc_id", "chunk_id")


def q_resample_strata(spark, sf_dir):
    """Domain-mixture resampling: downsample 'en' to 0.5x, upsample 'zh'
    to 2.5x, keep the rest at 1x — every decision a pure function of
    (doc_id, seed), exactly replayable in SQL."""
    from tiledb_py_spark.operators.pipeline import resample_strata

    d = _t(spark, sf_dir, "documents")
    out = resample_strata(d, "lang", {"en": 0.5, "zh": 2.5}, ["doc_id"],
                          seed=42)
    return (out.select("doc_id", "lang",
                       F.col("copy_id").cast("long").alias("copy_id"))
               .orderBy("doc_id", "copy_id"))


def q_pack_global(spark, sf_dir):
    """GLOBAL (ungrouped) context-window packing: the naive plan is one
    single-task window; the engine instead runs the bucketed distributed
    prefix sum (range buckets + per-bucket windows + broadcast carry),
    which the oracle's plain global window must equal exactly.  Bucket
    bounds come from the doc_id footer statistics (no sampling job);
    None falls back to the sampled pass."""
    from tiledb_py_spark.operators.pipeline import pack_sequences
    from tiledb_py_spark.operators.stats_bounds import parquet_range_bounds
    from tiledb_py_spark.operators.text import whitespace_token_count

    try:
        bounds = parquet_range_bounds(
            os.path.join(sf_dir, "documents.parquet"), "doc_id", 64)
    except Exception:
        bounds = None
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count("text").alias("n_tok"))
    out = pack_sequences(d, "n_tok", ["doc_id"], max_tokens=2048,
                         bounds=bounds)
    return (out.select("doc_id", "pack_id", "pack_offset")
               .orderBy("doc_id"))


def q_token_budget(spark, sf_dir):
    """Token-budget corpus selection: per source, keep the longest-first
    (then doc_id) ranked prefix of docs whose cumulative whitespace-token
    total stays within 500 tokens."""
    from tiledb_py_spark.operators.pipeline import select_token_budget
    from tiledb_py_spark.operators.text import whitespace_token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", whitespace_token_count("text").alias("n_tok"))
    out = select_token_budget(d, "n_tok",
                              [F.col("n_tok").desc(), F.col("doc_id")],
                              budget=500, by="source")
    return out.select("doc_id", "source", "n_tok").orderBy("doc_id")


def q_scrub_text(spark, sf_dir):
    """PII scrubbing: emails / URLs / long digit runs -> typed
    placeholders, RE2-safe patterns so DuckDB applies the identical
    chain.  Synthetic PII is injected deterministically (the corpus has
    none) so the redaction is actually exercised."""
    from tiledb_py_spark.operators.pipeline import scrub_text

    d = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com or http://ex.com/p/"),
                 F.col("doc_id").cast("string"),
                 F.lit(" tel 5551234567"))).otherwise(F.col("text"))
    return (d.select("doc_id", scrub_text(injected).alias("clean"))
             .orderBy("doc_id"))


def q_fingerprint_md5(spark, sf_dir):
    """Document fingerprint over normalized text (md5 for portability;
    the engine's xxhash64 variant is operators.text.fingerprint)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col("text")),
                                                    r"[^\w\s]", " "), r"\s+", " "))
    return d.select("doc_id", F.md5(norm).alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_group_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver snapshots the first 50 entries into
    # CORRECTNESS_r{N}.json.  ROTATION SCHEDULE (VERDICT r10 item 1):
    # positions 40-50 are HARD-RESERVED for the rotation block — this
    # round the eleven gates named by the r10 verdict (group_agg ..
    # join_multiway, verbatim list) — so each round's driver artifact
    # carries a fresh tail cohort.  The r10 rotation block
    # (interval_join .. funnel_by_cohort, all driver-green in
    # CORRECTNESS_r10) returns to the tail.  New round-11 gates enter
    # positions 1-39 ONLY by displacing driver-green rows.  ALL entries
    # keep their
    # oracle_sql() and remain oracle-checked every round via
    # tools/check_correctness.py --exact (CORRECTNESS_full_r{N}.json
    # records the full exact-mode sweep).
    return {
        # --- positions 1-39: core + newest operator gates ---
        "qc_filter": q_qc_filter,
        "contamination": q_contamination,
        "datasource_read": q_datasource_read,
        "datasource_lww": q_datasource_lww,
        # zorder_layout/skew_join/rolling_anomaly (NEW round 8, second
        # session) displaced asof_forward, semantic_decontam and
        # self_repeat (driver-green r07, unchanged) to the tail
        "zorder_layout": q_zorder_layout,
        # delete_qc (NEW round 10, VERDICT r9 item 2: S15's first driver
        # row) displaced group_agg (driver-green r09, unchanged) to the
        # tail
        "delete_qc": q_delete_qc,
        "asof_join": q_asof_join,
        "minhash_dedup": q_minhash_dedup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "semantic_dedup": q_semantic_dedup,
        "dedup_clusters_lsh": q_dedup_clusters_lsh,
        "skew_join": q_skew_join,
        # sketches family (NEW round 8) displaced fuzzy_join,
        # diversity_sample and pq_ann (driver-green r07) to the tail
        "quantile_sketch": q_quantile_sketch,
        # kmeans_refine (NEW round 10) displaced distinct_sketch
        # (driver-green r09, unchanged) to the tail
        "kmeans_refine": q_kmeans_refine,
        "ivf_ann": q_ivf_ann,
        "ivfpq_ann": q_ivfpq_ann,
        # ann_append (NEW round 10, VERDICT r9 item 5) displaced
        # cms_counts (driver-green r09, unchanged) to the tail
        "ann_append": q_ann_append,
        "repeated_ngrams": q_repeated_ngrams,
        "remove_spans": q_remove_spans,
        "repetition_stats": q_repetition_stats,
        "clean_lines": q_clean_lines,
        "line_dedup": q_line_dedup,
        # stream_source (NEW round 12, VERDICT r11 item 4: the
        # array-as-streaming-source fragment change feed's first
        # driver row) displaced sessionize (driver-green r11,
        # unchanged — and still the verbatim oracle of
        # stream_sessionize below) to the tail
        "stream_source": q_stream_source,
        # stream_sink (NEW round 13, VERDICT r12 item 7: the native
        # streaming sink's first driver row — two-trigger ETL through
        # writeStream.format("tiledb"), one batchId-marked fragment
        # per micro-batch, read back through the datasource) displaced
        # stream_sessionize (driver-green r12, unchanged — stream_
        # replay keeps the stateful-twin mechanism in-window) to the
        # tail
        "stream_sink": q_stream_sink,
        "dsir_weights": q_dsir_weights,
        "bpe_pairs": q_bpe_pairs,
        "bpe_train": q_bpe_train,
        "quality_classifier": q_quality_classifier,
        "unigram_seed": q_unigram_seed,
        "unigram_lm_train": q_unigram_lm_train,
        # incremental_compact (NEW round 8) displaced incremental_dedup
        # (driver-green r07) to the tail — the compaction gate runs the
        # exact-dedup path twice as its substrate
        "incremental_compact": q_incremental_compact,
        # incremental_e2e (NEW round 11, VERDICT r10 item 2: the three
        # incremental state stories composed as one refresh chain)
        # displaced incremental_neardup (driver-green r10, unchanged —
        # and a building block of this gate) to the tail
        "incremental_e2e": q_incremental_e2e,
        # hybrid_search (NEW round 8, second session) displaced bm25
        # (driver-green r07; its scoring replay is one arm of the
        # hybrid oracle) to the tail
        "hybrid_search": q_hybrid_search,
        # stream_resample (NEW round 12, VERDICT r11 item 8: the
        # watermark-driven streaming twin's driver row — event-time
        # timeouts flush silent entities; oracle = the batch grid cut
        # at each entity's last finalized bucket) displaced
        # time_resample (driver-green r11, unchanged) to the tail
        "stream_resample": q_stream_resample,
        "leakage_split": q_leakage_split,
        "rolling_anomaly": q_rolling_anomaly,
        # stream_replay (NEW round 11, VERDICT r10 item 4: the
        # streaming twins' first driver row — two-trigger
        # rolling_anomaly_stream sink vs the batch SQL replay)
        # displaced attribution (driver-green r10, unchanged) to the
        # tail
        "stream_replay": q_stream_replay,
        "kn_ppl": q_kn_ppl,
        "kn3_ppl": q_kn3_ppl,
        # --- positions 40-50: the ROTATION BLOCK (VERDICT r13 item 2,
        # verbatim list) — the r4-r5-era gates that haven't held a
        # driver row since the registry outgrew the window.
        # The r13 rotation block (dup_stats .. simhash, all
        # driver-green in CORRECTNESS_r13) returns to the tail. ---
        "unigram_surprisal": q_unigram_surprisal,
        "ppl_buckets": q_ppl_buckets,
        "shard_assign": q_shard_assign,
        "oov_rate": q_oov_rate,
        "det_shuffle": q_det_shuffle,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "resample_strata": q_resample_strata,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "token_budget": q_token_budget,
        # --- tail.  Opened by the r13 rotation block
        # (dup_stats .. simhash, all driver-green in
        # CORRECTNESS_r13); every tail gate is still oracle-checked
        # each round by tools/check_correctness.py --exact and the
        # committed CORRECTNESS_full_r{N}.json. ---
        "dup_stats": q_dup_stats,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "bpe_tokens": q_bpe_tokens,
        "language_id": q_language_id,
        "source_similarity": q_source_similarity,
        "corpus_e2e": q_corpus_e2e,
        "winnow": q_winnow,
        "temperature_mix": q_temperature_mix,
        "bigram_surprisal": q_bigram_surprisal,
        "simhash": q_simhash,
        "pack_materialize": q_pack_materialize,
        "multimodal_features": q_multimodal_features,
        "label_read": q_label_read,
        "array_sql": q_array_sql,
        "join_topk": q_join_topk,
        "text_quality": q_text_quality,
        "salted_agg": q_salted_agg,
        "dedup_clusters": q_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "datasource_lww_many": q_datasource_lww_many,
        "window_rank": q_window_rank,
        "group_agg": q_group_agg,
        "cms_counts": q_cms_counts,
        "distinct_sketch": q_distinct_sketch,
        "write_direct_append": q_write_direct_append,
        "ewma": q_ewma,
        "pagerank": q_pagerank,
        "heavy_hitters": q_heavy_hitters,
        "batch_topk": q_batch_topk,
        "events_sessions": q_events_sessions,
        "qc_in_chain": q_qc_in_chain,
        "join_multiway": q_join_multiway,
        # sessionize + time_resample displaced by the r12 stream gates
        # (stream_source / stream_resample); both driver-green r11.
        # stream_sessionize displaced by stream_sink (r13); green r12
        "stream_sessionize": q_stream_sessionize,
        "sessionize": q_sessionize,
        "time_resample": q_time_resample,
        "interval_join": q_interval_join,
        "interval_overlap": q_interval_overlap,
        "bloom_decontam": q_bloom_decontam,
        "embedding_pca": q_embedding_pca,
        "funnel": q_funnel,
        "array_changelog": q_array_changelog,
        "wordpiece_scores": q_wordpiece_scores,
        "wordpiece_train": q_wordpiece_train,
        "cohort_retention": q_cohort_retention,
        "event_transitions": q_event_transitions,
        "funnel_by_cohort": q_funnel_by_cohort,
        "attribution": q_attribution,
        "dsir_sample": q_dsir_sample,
        "asof_forward": q_asof_forward,
        "semantic_decontam": q_semantic_decontam,
        "self_repeat": q_self_repeat,
        "bm25": q_bm25,
        "tfidf_terms": q_tfidf_terms,
        "pipeline_full_e2e": q_pipeline_full_e2e,
        "incremental_dedup": q_incremental_dedup,
        "incremental_neardup": q_incremental_neardup,
        "fuzzy_join": q_fuzzy_join,
        "diversity_sample": q_diversity_sample,
        "pq_ann": q_pq_ann,
        "multi_range": q_multi_range,
        "embedding_topk": q_embedding_topk,
        "agg_whole_selection": q_agg_whole_selection,
        "array_cond_agg": q_array_cond_agg,
        "array_time_slice": q_array_time_slice,
        "array_range_read": q_array_range_read,
        "exact_dedup": q_exact_dedup,
        "enum_qc": q_enum_qc,
        "qc_datetime": q_qc_datetime,
        "json_props": q_json_props,
        "events_tumbling": q_events_tumbling,
        "events_sliding": q_events_sliding,
        # ngram_jaccard / embedding_near_dup are the exact O(n^2) ORACLE
        # paths of minhash_dedup / embedding_near_dup_lsh (both still in
        # the window); each is pytest-covered and oracle-checked locally
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_near_dup": q_embedding_near_dup,
        "projection_pushdown": q_projection_pushdown,
        "nonempty_domain": q_nonempty_domain,
        "unique_dim_values": q_unique_dim_values,
        "dense_fill_read": q_dense_fill_read,
        "anti_semi": q_anti_semi,
        "rollup": q_rollup,
        "fingerprint_md5": q_fingerprint_md5,
        "array_embedding_topk": q_array_embedding_topk,
        "sample_exact": q_sample_exact,
        "pack_global": q_pack_global,
        "scrub_text": q_scrub_text,
    }


def _pagerank_oracle(n_iter: int = 6, d: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain implementing pagerank()'s
    stated update rule — built by loop so the oracle stays in lockstep
    with the iteration count."""
    ctes = ["""edges AS (
        SELECT DISTINCT l_partkey % 211 AS s, l_suppkey % 211 AS de
        FROM lineitem WHERE l_partkey % 211 != l_suppkey % 211
    )""", """nodes AS (
        SELECT DISTINCT node FROM (
            SELECT s AS node FROM edges
            UNION ALL SELECT de FROM edges)
    )""", "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        """deg AS (
        SELECT s, count(*)::DOUBLE AS dg FROM edges GROUP BY s
    )""", "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank "
          "FROM nodes)"]
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        ctes.append(f"""r{i} AS (
        SELECT nd.node,
               ({1 - d:.2f} / nn.n) + {d:.2f} * (dang.dm / nn.n
                   + coalesce(ct.c, 0.0)) AS rank
        FROM nodes nd CROSS JOIN nn
        CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS dm
                    FROM {p} LEFT JOIN deg ON {p}.node = deg.s
                    WHERE deg.s IS NULL) dang
        LEFT JOIN (SELECT e.de AS node, sum(r.rank / deg.dg) AS c
                   FROM {p} r JOIN deg ON r.node = deg.s
                   JOIN edges e ON e.s = r.node
                   GROUP BY e.de) ct ON ct.node = nd.node
    )""")
    return ("WITH " + ",\n    ".join(ctes)
            + f"""
            SELECT node,
                   round(rank * (SELECT n FROM nn), 4) AS rank_scaled
            FROM r{n_iter} ORDER BY node""")


def oracle_sql() -> dict[str, str]:
    from tiledb_py_spark.operators.layout import morton_sql

    d = {
        "pagerank": _pagerank_oracle(),
        # Independent SQL formulation (DuckDB `//` int division +
        # unrolled shift/and sum) of the Catalyst expression tree in
        # operators/layout.py — not the same code path.
        "zorder_layout": morton_sql(["l_partkey", "l_suppkey"],
                                    "lineitem", bits=8, file_bits=6),
        "skew_join": """
            SELECT s.s_nationkey,
                   count(*) AS n_rows,
                   round(sum(l.l_quantity), 2) AS sum_qty,
                   count(DISTINCT l.l_suppkey) AS n_suppliers
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey ORDER BY s.s_nationkey
        """,
        "rolling_anomaly": """
            -- exact arithmetic: value is 2-dp, so the scaled-int64
            -- frame sum / sum-of-squares are exact in both engines and
            -- mean/std/z derive from identical integers (bit-stable)
            WITH sc AS (
              SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value,
                     CAST(round(value * 100.0) AS BIGINT) AS vs
              FROM events),
            w AS (
              SELECT user_id, event_id, ts, value, vs,
                sum(vs) OVER fr AS s,
                sum(vs * vs) OVER fr AS q,
                count(vs) OVER fr AS n
              FROM sc
              WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
            d AS (
              SELECT user_id, event_id, ts, value, vs, n,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                sqrt(CAST(n * q - s * s AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE)) AS sd
              FROM w)
            -- floor(x*1e4 + 0.5)/1e4: engine-independent 4-dp rounding
            -- (library round()s disagree on representation ties).
            -- |x| < 9e14 guard mirrors the operator: Spark's
            -- floor(double) is a LONG and saturates at 2^63, so both
            -- engines pass large doubles through unchanged.  (The
            -- decimal(38,0) overflow envelope itself is out of this
            -- data's range — pytest-pinned instead.)
            SELECT user_id, event_id, ts, value,
                   CASE WHEN abs(m / 100.0) < 9e14
                        THEN floor(m / 100.0 * 1e4 + 0.5) / 1e4
                        ELSE m / 100.0 END AS baseline_mean,
                   CASE WHEN abs(sd / 100.0) < 9e14
                        THEN floor(sd / 100.0 * 1e4 + 0.5) / 1e4
                        ELSE sd / 100.0 END AS baseline_std,
                   CASE WHEN abs((CAST(vs AS DOUBLE) - m) / sd) < 9e14
                        THEN floor((CAST(vs AS DOUBLE) - m) / sd * 1e4
                                   + 0.5) / 1e4
                        ELSE (CAST(vs AS DOUBLE) - m) / sd END AS zscore
            FROM d
            WHERE n >= 5 AND sd IS NOT NULL AND sd > 0
              AND abs((CAST(vs AS DOUBLE) - m) / sd) > 2.0
        """,
        "qc_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem WHERE l_quantity > 45.0 AND l_discount <= 0.02
        """,
        # S13 replay: two write_direct fragments (ingest + dim-append)
        # reassemble the source column exactly
        "write_direct_append": """
            SELECT n_nationkey, n_regionkey
            FROM nation ORDER BY n_nationkey
        """,
        # S15 delete replay: survivors of a mode-'d' delete (after
        # consolidation) are exactly the NOT(cond) complement
        "delete_qc": """
            SELECT p_partkey, round(p_retailprice, 2) AS price, p_size
            FROM part
            WHERE NOT (p_retailprice > 950.0 AND p_size < 25)
            ORDER BY p_partkey
        """,
        "qc_in_chain": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_totalprice > 1000.0 AND o_totalprice < 50000.0
        """,
        "qc_datetime": """
            SELECT o_orderkey, o_orderdate, o_orderstatus
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND o_orderstatus <> 'F'
        """,
        "multi_range": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE (l_orderkey BETWEEN 1 AND 100)
               OR (l_orderkey BETWEEN 500 AND 600)
               OR l_orderkey IN (1000, 2000, 3000)
        """,
        "projection_pushdown": """
            SELECT l_orderkey, l_extendedprice
            FROM lineitem WHERE l_extendedprice > 90000.0
        """,
        "agg_whole_selection": """
            SELECT count(*) AS cnt,
                   round(sum(l_quantity), 2) AS sum_qty,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price,
                   round(avg(l_discount), 6) AS mean_disc
            FROM lineitem WHERE l_returnflag = 'R'
        """,
        "nonempty_domain": """
            SELECT min(l_orderkey) AS lo_orderkey, max(l_orderkey) AS hi_orderkey,
                   min(l_linenumber) AS lo_linenumber, max(l_linenumber) AS hi_linenumber
            FROM lineitem
        """,
        "unique_dim_values": """
            SELECT DISTINCT l_returnflag FROM lineitem ORDER BY l_returnflag
        """,
        "array_range_read": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_orderkey BETWEEN 100 AND 400
        """,
        "array_cond_agg": """
            SELECT count(*) AS cnt,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(max(l_extendedprice), 2) AS max_price
            FROM lineitem WHERE l_tax > 0.05
        """,
        "array_sql": """
            SELECT l_returnflag,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(avg(l_extendedprice), 2) AS avg_price
            FROM lineitem
            WHERE l_orderkey < 5000
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "array_time_slice": """
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <= TIMESTAMP '1996-12-31'
        """,
        "datasource_read": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_orderkey BETWEEN 1000 AND 2000 AND l_quantity > 30.0
        """,
        "datasource_lww": """
            SELECT p_partkey,
                   round(p_retailprice
                         + CASE WHEN p_partkey < 100 THEN 1000.0 ELSE 0 END,
                         2) AS price
            FROM part ORDER BY p_partkey
        """,
        "datasource_lww_many": """
            SELECT p_partkey,
                   round(p_retailprice
                         + CASE WHEN p_partkey < 100 THEN 1050.0 ELSE 0 END,
                         2) AS price
            FROM part ORDER BY p_partkey
        """,
        "dense_fill_read": """
            SELECT g.n_nationkey,
                   coalesce(CASE WHEN n.n_regionkey <= 2
                                 THEN n.n_regionkey END, -1) AS n_regionkey
            FROM generate_series(0, 29) g(n_nationkey)
            LEFT JOIN nation n ON n.n_nationkey = g.n_nationkey
            ORDER BY g.n_nationkey
        """,
        "label_read": """
            SELECT s_suppkey, s_name, s_nationkey,
                   round(s_acctbal, 2) AS s_acctbal
            FROM supplier
            WHERE s_name >= 'Supplier#000000010'
              AND s_name <= 'Supplier#000000050'
            ORDER BY s_suppkey
        """,
        "salted_agg": """
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(l_quantity) AS n_rows,
                   max(l_extendedprice) AS max_price
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "asof_forward": """
            SELECT p.event_id, er.ts AS next_err_ts
            FROM (SELECT event_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT ts FROM events
                            WHERE event_type = 'error') er
              ON p.ts <= er.ts
            ORDER BY p.event_id
        """,
        "enum_qc": """
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_totalprice > 100000.0
        """,
        "group_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "join_topk": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "join_multiway": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "window_rank": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rk
                FROM orders
            ) WHERE rk <= 3
        """,
        "anti_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                  AND o_orderdate < TIMESTAMP '1996-01-01')
            ORDER BY c_custkey
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "json_props": """
            -- sum(INTEGER) is HUGEINT in DuckDB (-> float64 in pandas);
            -- cast to BIGINT so the dtype matches Spark's long sum.
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2, 3 ORDER BY 1, 3
        """,
        "events_sliding": """
            WITH w AS (
                SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start,
                       event_type FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
                       event_type FROM events
            )
            SELECT window_start, event_type, count(*) AS n_events
            FROM w GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_sessions": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM events WHERE user_id < 20
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "asof_join": """
            SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
                   c.click_id, c.ts AS click_ts
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts, event_id AS click_id
                            FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY p.event_id
        """,
        "exact_dedup": """
            SELECT doc_id FROM documents ORDER BY doc_id
        """,
        "dup_stats": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies
            FROM (
                SELECT text FROM documents
                UNION ALL
                SELECT text FROM documents WHERE doc_id < 100
            )
            GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
        """,
        "minhash_dedup": r"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id < 50
            ), toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM all_docs
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(arr) >= 3
                            THEN list_distinct(list_transform(range(1, len(arr) - 1),
                                               i -> array_to_string(arr[i:i+2], ' ')))
                            ELSE [array_to_string(arr, ' ')] END AS s
                FROM toks
            ), pairs AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s)) * 1.0
                      / len(list_distinct(a.s || b.s)) >= 0.9
            )
            SELECT doc_id FROM all_docs
            WHERE doc_id NOT IN (SELECT ib FROM pairs)
            ORDER BY doc_id
        """,
        "ngram_jaccard": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_distinct(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS s
                FROM documents WHERE doc_id < 100
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s)) * 1.0
                         / len(list_distinct(a.s || b.s)), 6) AS jaccard
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s)) * 1.0
                  / len(list_distinct(a.s || b.s)) >= 0.7
            ORDER BY id_a, id_b
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_distinct(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS s
                FROM documents WHERE doc_id < 100
            ),
            pairs AS (
                SELECT a.doc_id AS u, b.doc_id AS v
                FROM toks a JOIN toks b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s)) * 1.0
                      / len(list_distinct(a.s || b.s)) >= 0.7
            ),
            edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
            reach(a, b) AS (
                SELECT u, u FROM edges
                UNION
                SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
            )
            SELECT a AS doc_id, min(b) AS rep
            FROM reach GROUP BY a ORDER BY doc_id
        """,
        "embedding_topk": """
            -- DOUBLE[] cast: round() on a FLOAT list-cosine stays
            -- FLOAT32 in DuckDB and widens to 0.27630001... while the
            -- Spark side computes in float64 — cast first so both
            -- engines fold identical doubles (bit-exact, like
            -- array_embedding_topk)
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 5) AS score
            FROM embeddings WHERE vec_id <> 0
            ORDER BY score DESC, vec_id LIMIT 10
        """,
        "array_embedding_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 5) AS score
            FROM embeddings WHERE vec_id <> 0
            ORDER BY score DESC, vec_id LIMIT 10
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 5) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.30
            ORDER BY id_a, id_b
        """,
        "dedup_clusters_lsh": r"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents WHERE text IS NOT NULL
                UNION ALL
                SELECT doc_id + 1000000000 AS doc_id, text FROM documents
                WHERE doc_id < 50 AND text IS NOT NULL
            ),
            toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM all_docs
            ),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(arr) >= 3
                            THEN list_sort(list_distinct(list_transform(range(1, len(arr) - 1),
                                     i -> array_to_string(arr[i:i+2], ' '))))
                            ELSE [array_to_string(arr, ' ')] END AS s
                FROM toks
            ),
            c AS (
                SELECT s, count(*) AS cluster_size
                FROM sh GROUP BY s HAVING count(*) >= 2
            )
            SELECT cluster_size, count(*) AS n_clusters
            FROM c GROUP BY cluster_size ORDER BY cluster_size
        """,
        "fuzzy_join": r"""
            WITH lt AS (
                SELECT doc_id,
                       list_distinct(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS s
                FROM documents WHERE doc_id < 100
            ),
            rt AS (
                SELECT doc_id + 5000 AS rid,
                       list_distinct(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS s
                FROM documents WHERE doc_id < 150
            )
            SELECT l.doc_id, r.rid,
                   round(len(list_intersect(l.s, r.s)) * 1.0
                         / len(list_distinct(l.s || r.s)), 6) AS jaccard
            FROM lt l JOIN rt r
              ON len(list_intersect(l.s, r.s)) * 1.0
                 / len(list_distinct(l.s || r.s)) >= 0.9
            ORDER BY doc_id, rid
        """,
        "semantic_decontam": """
            SELECT e.vec_id FROM embeddings e
            WHERE e.vec_id >= 100 AND e.vec_id < 300 AND NOT EXISTS (
              SELECT 1 FROM embeddings b
              WHERE b.vec_id < 100
                AND list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])) >= 0.30)
            ORDER BY vec_id
        """,
        "sample_exact": r"""
            SELECT doc_id, lang FROM documents
            QUALIFY row_number() OVER (
              PARTITION BY lang
              ORDER BY ('0x' || substr(md5(concat_ws(chr(31),
                        CAST(doc_id AS VARCHAR), 'sample_exact:42')), 1, 15))::BIGINT,
                       doc_id) <= 20
            ORDER BY doc_id
        """,
        "semantic_dedup": """
            SELECT e.vec_id FROM embeddings e
            WHERE e.vec_id < 200 AND NOT EXISTS (
              SELECT 1 FROM embeddings a
              WHERE a.vec_id < e.vec_id AND a.vec_id < 200
                AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])) >= 0.30)
            ORDER BY vec_id
        """,
        "embedding_near_dup_lsh": """
            -- oracle for the BANDED LSH path: exact pairs at >= 0.40; the
            -- seeded 24x2 tables deterministically recover all of them on
            -- this slice, so set equality is exact (see q_embedding_near_dup_lsh)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 5) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.40
            ORDER BY id_a, id_b
        """,
        "batch_topk": """
            SELECT query_id, vec_id, score, rank FROM (
                SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
                       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[])), 5) AS score,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                           CAST(b.embedding AS DOUBLE[])) DESC,
                                    b.vec_id) AS rank
                FROM embeddings q JOIN embeddings b
                  ON q.vec_id < 5 AND b.vec_id >= 5
            ) WHERE rank <= 3
            ORDER BY query_id, rank
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "bpe_tokens": r"""
            -- list_sum yields HUGEINT (-> float64 in pandas); cast the whole
            -- count to BIGINT so the dtype matches Spark's long.
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\w+|[^\w\s]'))
                   + coalesce(list_sum(list_transform(
                         list_filter(regexp_split_to_array(text, '\s+'),
                                     w -> length(w) > 4),
                         w -> (length(w) - 1) // 4)), 0) AS BIGINT) AS n_bpe
            FROM documents ORDER BY doc_id
        """,
        "text_quality": r"""
            WITH toks AS (
                SELECT doc_id, length(text) AS q_n_chars,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM documents
            )
            SELECT doc_id, q_n_chars,
                   len(arr) AS q_n_tokens,
                   round(list_sum(list_transform(arr, w -> length(w))) * 1.0
                         / greatest(len(arr), 1), 6) AS mean_word_len,
                   round(1.0 - len(list_distinct(arr)) * 1.0 / greatest(len(arr), 1), 6)
                       AS dup_token_ratio
            FROM toks ORDER BY doc_id
        """,
        "fingerprint_md5": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),
                                           '\s+', ' ', 'g'))) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "repeated_ngrams": r"""
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
              SELECT doc_id,
                     ('0x' || substr(md5(array_to_string(arr[i:i+9], ' ')), 1, 15))::BIGINT AS gh
              FROM t, UNNEST(generate_series(1, len(arr) - 9)) AS u(i)
              WHERE len(arr) >= 10
            ),
            d AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2)
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   count(*) FILTER (WHERE g.gh IN (SELECT gh FROM d)) AS n_dup_grams
            FROM g GROUP BY g.doc_id ORDER BY doc_id
        """,
        "contamination": r"""
            WITH corpus AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE doc_id >= 50 AND length(trim(text)) > 0
            ),
            bench AS (
              SELECT regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0
            ),
            cg AS (
              SELECT doc_id,
                     ('0x' || substr(md5(array_to_string(arr[i:i+4], ' ')), 1, 15))::BIGINT AS gh
              FROM corpus, UNNEST(generate_series(1, len(arr) - 4)) AS u(i)
              WHERE len(arr) >= 5
            ),
            bg AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(array_to_string(arr[i:i+4], ' ')), 1, 15))::BIGINT AS gh
              FROM bench, UNNEST(generate_series(1, len(arr) - 4)) AS u(i)
              WHERE len(arr) >= 5
            )
            SELECT c.doc_id,
                   coalesce(sum(g.cnt), 0)::BIGINT AS n_grams,
                   coalesce(sum(g.cnt) FILTER (WHERE g.gh IN (SELECT gh FROM bg)), 0)::BIGINT
                       AS n_contaminated
            FROM corpus c
            LEFT JOIN (SELECT doc_id, gh, count(*) AS cnt
                       FROM cg GROUP BY doc_id, gh) g USING (doc_id)
            GROUP BY c.doc_id ORDER BY c.doc_id
        """,
        "array_changelog": """
            WITH old AS (
                SELECT p_partkey, round(p_retailprice, 2) AS price
                FROM part
            ),
            new AS (
                SELECT p_partkey,
                       round(CASE WHEN p_partkey < 80
                                  THEN p_retailprice + 5000.0
                                  ELSE p_retailprice END, 2) AS price
                FROM part
                UNION ALL
                SELECT p_partkey + 1000000,
                       round(p_retailprice + 7.0, 2)
                FROM part WHERE p_partkey < 40
            )
            SELECT coalesce(o.p_partkey, n.p_partkey) AS p_partkey,
                   CASE WHEN o.p_partkey IS NULL THEN 'insert'
                        WHEN n.p_partkey IS NULL THEN 'delete'
                        ELSE 'update' END AS change,
                   o.price AS old_price, n.price AS new_price
            FROM old o FULL OUTER JOIN new n ON o.p_partkey = n.p_partkey
            WHERE o.p_partkey IS NULL OR n.p_partkey IS NULL
               OR o.price IS DISTINCT FROM n.price
            ORDER BY p_partkey
        """,
        "heavy_hitters": r"""
            WITH tok AS (
                SELECT lower(t) AS item
                FROM (SELECT unnest(regexp_split_to_array(trim(text),
                             '\s+')) AS t
                      FROM documents WHERE length(trim(text)) > 0)
            ),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT item, count(*)::BIGINT AS n
            FROM tok, tot
            GROUP BY item, tot.n
            HAVING count(*) > tot.n * 0.005
            ORDER BY 2 DESC, 1
        """,
        "cohort_retention": """
            WITH first AS (
                SELECT user_id, date_trunc('day', min(ts)) AS cohort
                FROM events GROUP BY user_id
            ),
            active AS (
                SELECT DISTINCT user_id, date_trunc('day', ts) AS p
                FROM events
            )
            SELECT cohort,
                   date_diff('day', cohort, p)::INT AS period_offset,
                   count(*)::BIGINT AS n_active
            FROM active JOIN first USING (user_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "funnel_by_cohort": """
            WITH se AS (
                SELECT user_id, ts, event_type FROM events
                WHERE event_type IN ('view', 'click', 'purchase')
            ),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM se
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT se.user_id, min(ts) AS t2 FROM se
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'click' AND ts > t1
                     AND ts - t1 <= INTERVAL 12 HOUR
                   GROUP BY se.user_id),
            s3 AS (SELECT se.user_id, min(ts) AS t3 FROM se
                   JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                   WHERE event_type = 'purchase' AND ts > t2
                     AND ts - t1 <= INTERVAL 12 HOUR
                   GROUP BY se.user_id),
            f AS (
                SELECT b.user_id,
                       ((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
                        + (t3 IS NOT NULL)::INT) AS n_steps
                FROM (SELECT DISTINCT user_id FROM se) b
                LEFT JOIN s1 USING (user_id)
                LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)
            ),
            cohorts AS (
                SELECT user_id, date_trunc('hour', min(ts)) AS cohort
                FROM events GROUP BY user_id
            )
            SELECT cohort, count(*)::BIGINT AS n_users,
                   sum((n_steps >= 1)::INT)::BIGINT AS n_step1,
                   sum((n_steps >= 2)::INT)::BIGINT AS n_step2,
                   sum((n_steps >= 3)::INT)::BIGINT AS n_step3
            FROM f JOIN cohorts USING (user_id)
            GROUP BY cohort ORDER BY cohort
        """,
        "ewma": """
            WITH RECURSIVE e AS (
                SELECT user_id, ts, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            r AS (
                SELECT user_id, ts, event_id, value, rn,
                       value AS ewma
                FROM e WHERE rn = 1
                UNION ALL
                SELECT e.user_id, e.ts, e.event_id, e.value, e.rn,
                       0.3 * e.value + 0.7 * r.ewma
                FROM e JOIN r ON e.user_id = r.user_id
                            AND e.rn = r.rn + 1
            )
            SELECT user_id, event_id, ts, round(value, 2) AS value,
                   round(ewma, 4) AS ewma
            FROM r ORDER BY user_id, event_id
        """,
        "event_transitions": """
            SELECT from_step, to_step, count(*)::BIGINT AS n
            FROM (SELECT coalesce(lag(event_type) OVER
                             (PARTITION BY user_id
                              ORDER BY ts, event_id),
                             '__start__') AS from_step,
                         event_type AS to_step
                  FROM events)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "funnel": """
            WITH se AS (
                SELECT user_id, ts, event_type FROM events
                WHERE event_type IN ('view', 'click', 'purchase')
            ),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM se
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT se.user_id, min(ts) AS t2 FROM se
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'click' AND ts > t1
                     AND ts - t1 <= INTERVAL 12 HOUR
                   GROUP BY se.user_id),
            s3 AS (SELECT se.user_id, min(ts) AS t3 FROM se
                   JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                   WHERE event_type = 'purchase' AND ts > t2
                     AND ts - t1 <= INTERVAL 12 HOUR
                   GROUP BY se.user_id),
            base AS (SELECT DISTINCT user_id FROM se)
            SELECT b.user_id, t1 AS step1_ts, t2 AS step2_ts,
                   t3 AS step3_ts,
                   ((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
                    + (t3 IS NOT NULL)::INT) AS n_steps
            FROM base b LEFT JOIN s1 USING (user_id)
                        LEFT JOIN s2 USING (user_id)
                        LEFT JOIN s3 USING (user_id)
            ORDER BY b.user_id
        """,
        "bloom_decontam": r"""
            WITH corpus AS (
              SELECT doc_id, source,
                     regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE doc_id >= 50 AND length(trim(text)) > 0
            ),
            bench AS (
              SELECT regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0
            ),
            cg AS (
              SELECT doc_id,
                     ('0x' || substr(md5(array_to_string(arr[i:i+4], ' ')), 1, 15))::BIGINT AS gh
              FROM corpus, UNNEST(generate_series(1, len(arr) - 4)) AS u(i)
              WHERE len(arr) >= 5
            ),
            bg AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(array_to_string(arr[i:i+4], ' ')), 1, 15))::BIGINT AS gh
              FROM bench, UNNEST(generate_series(1, len(arr) - 4)) AS u(i)
              WHERE len(arr) >= 5
            )
            SELECT doc_id, source FROM corpus
            WHERE doc_id NOT IN (
              SELECT DISTINCT doc_id FROM cg
              WHERE gh IN (SELECT gh FROM bg))
            ORDER BY doc_id
        """,
        "remove_spans": r"""
            WITH t AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
              FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
              SELECT doc_id, i AS pos,
                     ('0x' || substr(md5(array_to_string(arr[i:i+9], ' ')), 1, 15))::BIGINT AS gh
              FROM t, UNNEST(generate_series(1, len(arr) - 9)) AS u(i)
              WHERE len(arr) >= 10
            ),
            d AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
                  GROUP BY gh HAVING count(*) >= 2),
            p AS (SELECT doc_id, list(pos) AS P FROM g
                  WHERE gh IN (SELECT gh FROM d) GROUP BY doc_id),
            k AS (
              SELECT t.doc_id, t.arr,
                     list_filter(range(1, len(t.arr) + 1),
                                 j -> len(list_filter(coalesce(p.P, CAST([] AS BIGINT[])),
                                                      q -> j >= q AND j < q + 10)) = 0) AS keep
              FROM t LEFT JOIN p USING (doc_id)
            )
            SELECT doc_id,
                   coalesce(array_to_string(list_transform(keep, j -> arr[j]), ' '), '')
                       AS clean_text,
                   (len(arr) - len(keep))::BIGINT AS n_removed
            FROM k ORDER BY doc_id
        """,
        "repetition_stats": r"""
            WITH base AS (
                SELECT doc_id,
                       regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                      '\1' || chr(10), 'g') AS text
                FROM documents WHERE length(trim(text)) > 0
            ),
            toks AS (
                SELECT doc_id, arr[i] AS tok, i::INT AS pos
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\s+') AS arr
                      FROM base),
                     UNNEST(generate_series(1, len(arr))) AS t(i)
            ),
            doc AS (
                SELECT doc_id, greatest(sum(length(tok)), 1)::DOUBLE AS chars
                FROM toks GROUP BY doc_id
            ),
            lines AS (
                SELECT doc_id, u.l AS l
                FROM base, unnest(string_split(text, chr(10))) AS u(l)
                WHERE length(trim(u.l)) > 0
            ),
            lstats AS (
                SELECT doc_id, count(*) AS n_lines,
                       count(*) - count(DISTINCT l) AS n_dup,
                       sum(length(l))::DOUBLE AS lchars
                FROM lines GROUP BY doc_id
            ),
            dstats AS (
                SELECT doc_id, sum(length(l)) AS dchars
                FROM (SELECT DISTINCT doc_id, l FROM lines) GROUP BY doc_id
            ),
            g2 AS (
                SELECT doc_id, pos, tok || ' ' || lead(tok, 1) OVER w AS gram
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            top2 AS (
                SELECT doc_id, max(cnt * (length(gram) - 1)) AS cover
                FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2
                      WHERE gram IS NOT NULL GROUP BY doc_id, gram)
                GROUP BY doc_id
            ),
            g3 AS (
                SELECT doc_id, pos,
                       tok || ' ' || lead(tok, 1) OVER w
                           || ' ' || lead(tok, 2) OVER w AS gram
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            top3 AS (
                SELECT doc_id, max(cnt * (length(gram) - 2)) AS cover
                FROM (SELECT doc_id, gram, count(*) AS cnt FROM g3
                      WHERE gram IS NOT NULL GROUP BY doc_id, gram)
                GROUP BY doc_id
            ),
            g5 AS (
                SELECT doc_id, pos,
                       tok || ' ' || lead(tok, 1) OVER w
                           || ' ' || lead(tok, 2) OVER w
                           || ' ' || lead(tok, 3) OVER w
                           || ' ' || lead(tok, 4) OVER w AS gram
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            d5 AS (
                SELECT doc_id, pos,
                       CASE WHEN count(*) OVER (PARTITION BY doc_id, gram) >= 2
                            THEN 1 ELSE 0 END AS dup
                FROM g5 WHERE gram IS NOT NULL
            ),
            cov5m AS (
                SELECT t.doc_id, t.pos, t.tok,
                       max(coalesce(d.dup, 0)) OVER (
                           PARTITION BY t.doc_id ORDER BY t.pos
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered
                FROM toks t LEFT JOIN d5 d
                     ON t.doc_id = d.doc_id AND t.pos = d.pos
            ),
            cov5 AS (
                SELECT doc_id,
                       sum(CASE WHEN covered = 1 THEN length(tok) ELSE 0 END) AS cch
                FROM cov5m GROUP BY doc_id
            ),
            g10 AS (
                SELECT doc_id, pos,
                       tok || ' ' || lead(tok, 1) OVER w
                           || ' ' || lead(tok, 2) OVER w
                           || ' ' || lead(tok, 3) OVER w
                           || ' ' || lead(tok, 4) OVER w
                           || ' ' || lead(tok, 5) OVER w
                           || ' ' || lead(tok, 6) OVER w
                           || ' ' || lead(tok, 7) OVER w
                           || ' ' || lead(tok, 8) OVER w
                           || ' ' || lead(tok, 9) OVER w AS gram
                FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            d10 AS (
                SELECT doc_id, pos,
                       CASE WHEN count(*) OVER (PARTITION BY doc_id, gram) >= 2
                            THEN 1 ELSE 0 END AS dup
                FROM g10 WHERE gram IS NOT NULL
            ),
            cov10m AS (
                SELECT t.doc_id, t.pos, t.tok,
                       max(coalesce(d.dup, 0)) OVER (
                           PARTITION BY t.doc_id ORDER BY t.pos
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS covered
                FROM toks t LEFT JOIN d10 d
                     ON t.doc_id = d.doc_id AND t.pos = d.pos
            ),
            cov10 AS (
                SELECT doc_id,
                       sum(CASE WHEN covered = 1 THEN length(tok) ELSE 0 END) AS cch
                FROM cov10m GROUP BY doc_id
            )
            SELECT d.doc_id,
                   l.n_lines AS n_lines,
                   round(l.n_dup / l.n_lines::DOUBLE, 6) AS dup_line_frac,
                   round((l.lchars - ds.dchars) / l.lchars, 6) AS dup_line_char_frac,
                   round(least(coalesce(t2.cover, 0) / d.chars, 1.0), 6) AS top2gram_char_frac,
                   round(least(coalesce(t3.cover, 0) / d.chars, 1.0), 6) AS top3gram_char_frac,
                   round(coalesce(c5.cch, 0) / d.chars, 6) AS dup5gram_char_frac,
                   round(coalesce(c10.cch, 0) / d.chars, 6) AS dup10gram_char_frac
            FROM doc d
            JOIN lstats l USING (doc_id)
            JOIN dstats ds USING (doc_id)
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN top3 t3 USING (doc_id)
            LEFT JOIN cov5 c5 USING (doc_id)
            LEFT JOIN cov10 c10 USING (doc_id)
            ORDER BY d.doc_id
        """,
        "clean_lines": r"""
            WITH base AS (
                SELECT doc_id,
                       regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                      '\1' || chr(10), 'g') AS text
                FROM documents WHERE length(trim(text)) > 0
            ),
            l AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> length(x) > 0) AS lines,
                       lower(text) AS low
                FROM base
            ),
            k AS (
                SELECT doc_id, lines,
                       list_filter(lines,
                           x -> len(regexp_split_to_array(x, '\s+')) >= 8
                                AND NOT contains(lower(x), 'query')
                                AND NOT contains(lower(x), 'window')) AS kept,
                       (contains(low, 'customer query')
                        OR contains(low, '{')) AS blocked
                FROM l
            )
            SELECT doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                   len(kept)::BIGINT AS n_lines_kept,
                   (len(lines) - len(kept))::BIGINT AS n_lines_dropped,
                   blocked AS doc_blocked
            FROM k ORDER BY doc_id
        """,
        "line_dedup": r"""
            WITH base AS (
                SELECT doc_id,
                       regexp_replace(text, '((?:\S+ ){2}\S+) ',
                                      '\1' || chr(10), 'g') AS text
                FROM documents WHERE length(trim(text)) > 0
            ),
            t AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> length(x) > 0) AS ls
                FROM base
            ),
            g AS (
                SELECT doc_id, i AS pos, ls[i] AS line
                FROM t, UNNEST(generate_series(1, len(ls))) AS u(i)
            ),
            d AS (
                SELECT line FROM (SELECT DISTINCT doc_id, line FROM g)
                GROUP BY line HAVING count(*) >= 2
            ),
            p AS (
                SELECT doc_id, list(pos) AS P FROM g
                WHERE line IN (SELECT line FROM d) GROUP BY doc_id
            ),
            k AS (
                SELECT t.doc_id, t.ls,
                       coalesce(p.P, CAST([] AS BIGINT[])) AS P
                FROM t LEFT JOIN p USING (doc_id)
            )
            SELECT doc_id,
                   coalesce(array_to_string(
                       list_transform(
                           list_filter(range(1, len(ls) + 1),
                                       j -> NOT list_contains(P, j)),
                           j -> ls[j]),
                       chr(10)), '') AS clean_text,
                   len(P)::BIGINT AS n_removed
            FROM k ORDER BY doc_id
        """,
        "sessionize": """
            WITH s AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s2 AS (
                SELECT event_id, user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM s
            )
            SELECT event_id, user_id, session_idx::BIGINT AS session_idx,
                   (row_number() OVER (PARTITION BY user_id, session_idx
                                       ORDER BY ts, event_id))::BIGINT AS event_idx
            FROM s2 ORDER BY event_id
        """,
        "temperature_mix": r"""
            WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            tot AS (SELECT sum(n) AS T, sum(pow(n, 0.5)) AS wsum FROM c),
            r AS (
                SELECT lang,
                       round((pow(n, 0.5) / tot.wsum) * tot.T / n, 4) AS rate
                FROM c, tot
            ),
            rows_ AS (
                SELECT d.doc_id, d.lang,
                       floor(r.rate)::BIGINT AS k,
                       round((r.rate - floor(r.rate)) * 10000)::BIGINT AS thr,
                       ('0x' || substr(md5(concat_ws(chr(31),
                            CAST(d.doc_id AS VARCHAR), 'tempmix:42')),
                            1, 15))::BIGINT % 10000 AS b
                FROM documents d JOIN r USING (lang)
            ),
            n AS (
                SELECT doc_id, lang,
                       k + CASE WHEN b < thr THEN 1 ELSE 0 END AS n_copies
                FROM rows_
            )
            SELECT doc_id, lang, u.copy_id
            FROM n, UNNEST(generate_series(0, n_copies - 1)) AS u(copy_id)
            WHERE n_copies > 0
            ORDER BY doc_id, copy_id
        """,
        "attribution": """
            WITH base AS (
              SELECT user_id, event_id, ts, event_type,
                     epoch_us(ts) AS us,
                     CASE WHEN event_type <> 'purchase'
                          THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                               || ':' ||
                               lpad(CAST(event_id AS VARCHAR), 20, '0')
                     END AS tkey
              FROM events
              WHERE event_type IN ('view', 'click', 'purchase')
            ),
            w AS (
              SELECT user_id, event_id, ts, event_type,
                     min(tkey) OVER fr AS f, max(tkey) OVER fr AS l
              FROM base
              WINDOW fr AS (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND 1 PRECEDING)
            )
            SELECT user_id, event_id AS conversion_id,
                   ts AS conversion_ts,
                   CAST(substr(f, 22, 20) AS BIGINT) AS first_touch_id,
                   CAST(substr(l, 22, 20) AS BIGINT) AS last_touch_id
            FROM w WHERE event_type = 'purchase' AND f IS NOT NULL
            ORDER BY user_id, conversion_id
        """,
        "leakage_split": r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_distinct(regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS s
                FROM documents WHERE doc_id < 100
            ),
            pairs AS (
                SELECT a.doc_id AS u, b.doc_id AS v
                FROM toks a JOIN toks b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s)) * 1.0
                      / len(list_distinct(a.s || b.s)) >= 0.7
            ),
            edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
            reach(a, b) AS (
                SELECT u, u FROM edges
                UNION
                SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
            ),
            reps AS (SELECT a AS doc_id, min(b) AS rep
                     FROM reach GROUP BY a),
            keyed AS (
                SELECT d.doc_id,
                       coalesce(r.rep, d.doc_id) AS cluster_rep
                FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id
                WHERE d.doc_id < 100
            )
            SELECT doc_id, cluster_rep,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, cluster_rep,
                         ('0x' || substr(md5(concat_ws(chr(31), CAST(cluster_rep AS VARCHAR), 'split:42')),
                                         1, 15))::BIGINT % 10000 AS b
                  FROM keyed)
            ORDER BY doc_id
        """,
        "time_resample": """
            WITH agg AS (
              SELECT user_id, time_bucket(INTERVAL '2 hours', ts) AS bucket,
                     count(*) AS n_events, round(avg(value), 4) AS v
              FROM events WHERE user_id < 50 GROUP BY 1, 2
            ),
            lagged AS (
              SELECT *, lag(bucket) OVER w AS pb, lag(v) OVER w AS pv
              FROM agg WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
            ),
            grid AS (
              SELECT user_id, bucket, n_events, v AS value FROM lagged
              UNION ALL
              SELECT l.user_id,
                     unnest(generate_series(l.pb + INTERVAL '2 hours',
                                            l.bucket - INTERVAL '2 hours',
                                            INTERVAL '2 hours')) AS bucket,
                     0 AS n_events, l.pv AS value
              FROM lagged l
              WHERE l.pb IS NOT NULL
                AND l.bucket > l.pb + INTERVAL '2 hours'
            )
            SELECT user_id, bucket, n_events, value
            FROM grid ORDER BY user_id, bucket
        """,
        "hybrid_search": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            ),
            lens AS (SELECT doc_id, len(toks) AS dl FROM d),
            stats AS (SELECT count(*)::DOUBLE AS N, avg(dl) AS avgdl FROM lens),
            tf AS (
                SELECT doc_id, t.tok AS term, count(*) AS tf
                FROM d, unnest(toks) AS t(tok)
                WHERE t.tok IN ('query', 'window', 'spark')
                GROUP BY doc_id, t.tok
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            tscore AS (
                SELECT tf.doc_id,
                       round(sum(
                           ln(1 + (s.N - dfreq.df + 0.5) / (dfreq.df + 0.5))
                           * tf.tf * (1.2 + 1)
                           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
                       ), 5) AS score
                FROM tf JOIN dfreq USING (term)
                JOIN lens l ON tf.doc_id = l.doc_id, stats s
                GROUP BY tf.doc_id
            ),
            tcand AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS text_rank
                FROM tscore ORDER BY score DESC, doc_id LIMIT 50
            ),
            vscore AS (
                SELECT vec_id,
                       round(list_cosine_similarity(embedding::DOUBLE[],
                           (SELECT embedding::DOUBLE[] FROM embeddings
                            WHERE vec_id = 0)), 5) AS score
                FROM embeddings WHERE vec_id <> 0
            ),
            vcand AS (
                SELECT vec_id,
                       row_number() OVER (ORDER BY score DESC, vec_id) AS vec_rank
                FROM vscore ORDER BY score DESC, vec_id LIMIT 50
            )
            SELECT coalesce(t.doc_id, v.vec_id) AS doc_id,
                   t.text_rank, v.vec_rank,
                   round(coalesce(1.0 / (60 + t.text_rank), 0)
                         + coalesce(1.0 / (60 + v.vec_rank), 0), 9) AS rrf
            FROM tcand t FULL JOIN vcand v ON t.doc_id = v.vec_id
            ORDER BY rrf DESC, doc_id LIMIT 10
        """,
        "bm25": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            ),
            lens AS (SELECT doc_id, len(toks) AS dl FROM d),
            stats AS (SELECT count(*)::DOUBLE AS N, avg(dl) AS avgdl FROM lens),
            tf AS (
                SELECT doc_id, t.tok AS term, count(*) AS tf
                FROM d, unnest(toks) AS t(tok)
                WHERE t.tok IN ('query', 'window', 'spark')
                GROUP BY doc_id, t.tok
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT tf.doc_id,
                   round(sum(
                       ln(1 + (s.N - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * tf.tf * (1.2 + 1)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
                   ), 5) AS score
            FROM tf
            JOIN dfreq USING (term)
            JOIN lens l ON tf.doc_id = l.doc_id, stats s
            GROUP BY tf.doc_id ORDER BY tf.doc_id
        """,
        "tfidf_terms": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id, t.tok AS term, count(*) AS tf
                FROM d, unnest(toks) AS t(tok) GROUP BY doc_id, t.tok
            ),
            dfreq AS (SELECT term, count(*) AS df FROM g GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS N FROM d),
            scored AS (
                SELECT g.doc_id, g.term, g.tf,
                       round(g.tf * ln(n.N / dfreq.df), 6) AS tfidf
                FROM g JOIN dfreq USING (term), n
            )
            SELECT doc_id, term, tf::BIGINT AS tf, tfidf,
                   (row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC))::BIGINT AS rank
            FROM scored
            QUALIFY rank <= 3
            ORDER BY doc_id, rank
        """,
        "incremental_dedup": r"""
            WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
                FROM documents
            ),
            b1 AS (SELECT * FROM norm WHERE doc_id < 250),
            b2 AS (SELECT * FROM norm WHERE doc_id >= 200)
            SELECT b2.doc_id
            FROM b2
            WHERE b2.nt NOT IN (SELECT nt FROM b1)
              AND b2.doc_id = (SELECT min(x.doc_id) FROM b2 x
                               WHERE x.nt = b2.nt)
            ORDER BY b2.doc_id
        """,
        "bpe_pairs": r"""
            WITH w AS (
                SELECT lower(tok) AS word, count(*) AS cnt
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM documents WHERE length(trim(text)) > 0)
                GROUP BY 1
            ),
            p AS (
                SELECT word[i:i] AS pleft,
                       CASE WHEN i = length(word) - 1
                            THEN word[i+1:i+1] || '</w>'
                            ELSE word[i+1:i+1] END AS pright,
                       cnt
                FROM w, UNNEST(generate_series(1, length(word) - 1)) AS u(i)
            )
            SELECT pleft, pright, sum(cnt)::BIGINT AS pair_count
            FROM p GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "bpe_train": """
            SELECT 40 AS n_merges, true AS merges_match_reference,
                   true AS encode_deterministic, true AS vocab_closed
        """,
        "wordpiece_scores": r"""
            WITH w AS (
                SELECT lower(tok) AS word, count(*) AS cnt
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM documents WHERE length(trim(text)) > 0)
                GROUP BY 1
            ),
            p AS (
                SELECT CASE WHEN i = 1 THEN word[i:i]
                            ELSE '##' || word[i:i] END AS lft,
                       '##' || word[i+1:i+1] AS rgt, cnt
                FROM w, UNNEST(generate_series(1, length(word) - 1)) AS u(i)
            ),
            pc AS (SELECT lft, rgt, sum(cnt)::BIGINT AS pair_count
                   FROM p GROUP BY 1, 2),
            s AS (
                SELECT CASE WHEN i = 1 THEN word[i:i]
                            ELSE '##' || word[i:i] END AS sym,
                       sum(cnt)::BIGINT AS sym_count
                FROM w, UNNEST(generate_series(1, length(word))) AS u(i)
                GROUP BY 1
            )
            SELECT pc.lft AS "left", pc.rgt AS "right", pair_count,
                   round(ln(pair_count::DOUBLE
                            / (ls.sym_count * rs.sym_count)), 4)
                       AS log_score
            FROM pc JOIN s ls ON ls.sym = pc.lft
                    JOIN s rs ON rs.sym = pc.rgt
            ORDER BY 1, 2
        """,
        "wordpiece_train": """
            SELECT 40 AS n_merges, true AS vocab_matches_reference,
                   true AS encode_deterministic, true AS vocab_closed,
                   true AS detok_rebuilds
        """,
        "unigram_seed": r"""
            WITH w AS (
                SELECT lower(tok) AS word, count(*) AS cnt
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM documents WHERE length(trim(text)) > 0)
                GROUP BY 1
            ),
            p AS (
                SELECT word[i:i+l-1] AS piece, cnt
                FROM w,
                     UNNEST(generate_series(1, length(word))) AS u(i),
                     UNNEST(generate_series(1, least(6, length(word) - i + 1))) AS v(l)
            )
            SELECT piece, sum(cnt)::BIGINT AS piece_count
            FROM p GROUP BY 1 ORDER BY 1
        """,
        # Assertion oracle (see q_unigram_lm_train): EM induction checked
        # against raw-text word counts, exhaustive-search Viterbi
        # optimality, distribution propriety, and round-trip encoding.
        "unigram_lm_train": """
            SELECT 60 AS vocab_budget, true AS wordfreq_matches_reference,
                   true AS deterministic, true AS proper_distribution,
                   true AS vocab_budget_respected, true AS viterbi_optimal,
                   true AS encode_roundtrips
        """,
        # Assertion oracle (see q_quality_classifier): the distributed
        # L-BFGS fit must converge, match an independent numpy GD fit of
        # the same objective (loss + hard predictions), replay its Arrow
        # scoring in numpy, and separate the labeled slices.
        "quality_classifier": """
            SELECT 512 AS n_buckets, true AS converged,
                   true AS loss_matches_reference,
                   true AS predictions_match_reference,
                   true AS scoring_replays, true AS separates_slices
        """,
        "oov_rate": r"""
            WITH g AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents WHERE length(trim(text)) > 0
            ),
            vocab AS (
                -- deduped LOWERED vocabulary: case variants of one
                -- word must collapse (the operator dedups the lowered
                -- hash; a raw join would fan out on case-mixed data)
                SELECT DISTINCT lower(tok) AS word FROM (
                    SELECT tok, count(*) AS n FROM g GROUP BY tok
                    ORDER BY n DESC, tok ASC LIMIT 20)
            )
            SELECT g.doc_id,
                   count(*)::BIGINT AS n_tokens,
                   sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
                   round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0
                         / count(*), 6) AS oov_rate
            FROM g LEFT JOIN vocab v ON lower(g.tok) = v.word
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        "source_similarity": r"""
            WITH toks AS (
                SELECT lang,
                       regexp_split_to_array(trim(text), '\s+') AS arr
                FROM documents WHERE length(trim(text)) > 0
            ),
            sh AS (
                SELECT lang,
                       CASE WHEN len(arr) >= 3
                            THEN list_distinct(list_transform(
                                range(1, len(arr) - 1),
                                i -> array_to_string(arr[i:i+2], ' ')))
                            ELSE [array_to_string(arr, ' ')] END AS s
                FROM toks
            ),
            p AS (
                SELECT DISTINCT lang,
                       ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
                FROM sh, unnest(s) AS u(g)
            ),
            sizes AS (SELECT lang, count(*) AS n FROM p GROUP BY lang),
            inter AS (
                SELECT a.lang AS src_a, b.lang AS src_b, count(*) AS c
                FROM p a JOIN p b ON a.h = b.h AND a.lang < b.lang
                GROUP BY 1, 2
            )
            SELECT sa.lang AS src_a, sb.lang AS src_b,
                   round(coalesce(i.c, 0) * 1.0
                         / (sa.n + sb.n - coalesce(i.c, 0)), 6) AS jaccard,
                   sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
                   coalesce(i.c, 0)::BIGINT AS n_common
            FROM sizes sa JOIN sizes sb ON sa.lang < sb.lang
            LEFT JOIN inter i ON i.src_a = sa.lang AND i.src_b = sb.lang
            ORDER BY src_a, src_b
        """,
        "kn_ppl": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
                FROM documents WHERE length(trim(text)) > 0
            ),
            tok AS (
                SELECT doc_id, i,
                       ('0x' || substr(md5(arr[i]), 1, 15))::BIGINT AS h,
                       CASE WHEN i = 1 THEN NULL
                            ELSE ('0x' || substr(md5(arr[i-1]), 1, 15))::BIGINT
                       END AS hp
                FROM t, UNNEST(generate_series(1, len(arr))) AS u(i)
            ),
            big AS (
                SELECT hp, h, count(*) AS c2
                FROM tok WHERE hp IS NOT NULL GROUP BY hp, h
            ),
            ctx AS (SELECT hp, sum(c2) AS ctot, count(*) AS n1f
                    FROM big GROUP BY hp),
            cont AS (SELECT h, count(*) AS n1b FROM big GROUP BY h),
            sc AS (SELECT (SELECT count(*) FROM big) AS B,
                          (SELECT count(DISTINCT h) FROM tok) AS V),
            p AS (
                SELECT tok.doc_id,
                       CASE WHEN tok.hp IS NULL
                            THEN (coalesce(cont.n1b, 0) + 1.0)
                                 / (sc.B + sc.V)
                            ELSE greatest(big.c2 - 0.75, 0) / ctx.ctot
                                 + (0.75 * ctx.n1f / ctx.ctot)
                                   * ((coalesce(cont.n1b, 0) + 1.0)
                                      / (sc.B + sc.V))
                       END AS prob
                FROM tok
                LEFT JOIN big ON tok.hp = big.hp AND tok.h = big.h
                LEFT JOIN ctx ON tok.hp = ctx.hp
                LEFT JOIN cont ON tok.h = cont.h, sc
            )
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(sum(ln(prob)), 4) AS log_prob,
                   round(exp(-sum(ln(prob)) / count(*)), 4) AS ppl
            FROM p GROUP BY doc_id ORDER BY doc_id
        """,
        "kn3_ppl": r"""
            WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
                FROM documents WHERE length(trim(text)) > 0
            ),
            tok AS (
                SELECT doc_id, i, arr[i] AS w,
                       CASE WHEN i >= 2 THEN arr[i-1] END AS b,
                       CASE WHEN i >= 3 THEN arr[i-2] END AS a
                FROM t, UNNEST(generate_series(1, len(arr))) AS u(i)
            ),
            tri AS (
                SELECT a, b, w, count(*) AS c3
                FROM tok WHERE a IS NOT NULL GROUP BY a, b, w
            ),
            ctx3 AS (SELECT a, b, sum(c3) AS ctot3, count(*) AS n1f3
                     FROM tri GROUP BY a, b),
            cc2 AS (SELECT b, w, count(*) AS c2 FROM tri GROUP BY b, w),
            ctx2 AS (SELECT b, sum(c2) AS ctot2, count(*) AS n1f2
                     FROM cc2 GROUP BY b),
            big AS (SELECT DISTINCT b, w FROM tok WHERE b IS NOT NULL),
            c1 AS (SELECT w, count(*) AS c1 FROM big GROUP BY w),
            sc AS (SELECT (SELECT count(*) FROM big) AS B1,
                          (SELECT count(DISTINCT w) FROM tok) AS V),
            p AS (
                SELECT tok.doc_id,
                       CASE
                         WHEN tok.a IS NOT NULL THEN
                           greatest(coalesce(tri.c3, 0) - 0.75, 0)
                               / ctx3.ctot3
                           + (0.75 * ctx3.n1f3 / ctx3.ctot3) *
                             (CASE WHEN ctx2.ctot2 IS NULL
                                   THEN (coalesce(c1.c1, 0) + 1.0)
                                        / (sc.B1 + sc.V)
                                   ELSE greatest(coalesce(cc2.c2, 0)
                                                 - 0.75, 0) / ctx2.ctot2
                                        + (0.75 * ctx2.n1f2 / ctx2.ctot2)
                                          * ((coalesce(c1.c1, 0) + 1.0)
                                             / (sc.B1 + sc.V)) END)
                         WHEN tok.b IS NOT NULL THEN
                           CASE WHEN ctx2.ctot2 IS NULL
                                THEN (coalesce(c1.c1, 0) + 1.0)
                                     / (sc.B1 + sc.V)
                                ELSE greatest(coalesce(cc2.c2, 0)
                                              - 0.75, 0) / ctx2.ctot2
                                     + (0.75 * ctx2.n1f2 / ctx2.ctot2)
                                       * ((coalesce(c1.c1, 0) + 1.0)
                                          / (sc.B1 + sc.V)) END
                         ELSE (coalesce(c1.c1, 0) + 1.0) / (sc.B1 + sc.V)
                       END AS prob
                FROM tok
                LEFT JOIN tri ON tok.a = tri.a AND tok.b = tri.b
                             AND tok.w = tri.w
                LEFT JOIN ctx3 ON tok.a = ctx3.a AND tok.b = ctx3.b
                LEFT JOIN cc2 ON tok.b = cc2.b AND tok.w = cc2.w
                LEFT JOIN ctx2 ON tok.b = ctx2.b
                LEFT JOIN c1 ON tok.w = c1.w, sc
            )
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(sum(ln(prob)), 4) AS log_prob,
                   round(exp(-sum(ln(prob)) / count(*)), 4) AS ppl
            FROM p GROUP BY doc_id ORDER BY doc_id
        """,
        "interval_join": """
            WITH clicks AS (
                SELECT event_id AS click_id, ts FROM events
                WHERE event_type = 'click'
            ), iv AS (
                SELECT event_id AS promo_id, ts AS s,
                       ts + INTERVAL 30 MINUTE AS e
                FROM events WHERE event_type = 'purchase' AND value > 150
                UNION ALL
                SELECT event_id, ts, ts + INTERVAL 2 DAY
                FROM events WHERE event_type = 'purchase' AND value < 0.5
            )
            SELECT c.click_id, count(*)::BIGINT AS n_promos,
                   min(iv.promo_id) AS first_promo
            FROM clicks c JOIN iv ON iv.s <= c.ts AND c.ts < iv.e
            GROUP BY c.click_id ORDER BY c.click_id
        """,
        "interval_overlap": """
            WITH pw AS (
                SELECT event_id AS p_id, ts AS ps,
                       ts + INTERVAL 20 MINUTE AS pe
                FROM events WHERE event_type = 'purchase' AND value > 100
            ), ew AS (
                SELECT event_id AS e_id, ts AS es,
                       ts + INTERVAL 15 MINUTE AS ee
                FROM events WHERE event_type = 'error'
            )
            SELECT p_id, e_id FROM pw JOIN ew
            ON ps <= ee AND es <= pe
            ORDER BY p_id, e_id
        """,
        "self_repeat": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(
                           CASE WHEN doc_id < 25
                                THEN text || ' ' || text ELSE text END),
                           '\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id, i,
                       array_to_string(toks[i:i+7], chr(31)) AS gram
                FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
                WHERE len(toks) >= 8
            ),
            rep AS (
                SELECT doc_id, i FROM (
                    SELECT doc_id, i,
                           min(i) OVER (PARTITION BY doc_id, gram) AS fst
                    FROM g)
                WHERE i > fst
            ),
            m AS (
                SELECT DISTINCT doc_id, i + k AS p
                FROM rep, UNNEST(generate_series(0, 7)) AS v(k)
            ),
            tok AS (
                SELECT t.doc_id, p, toks[p] AS tk
                FROM t, UNNEST(generate_series(1, len(toks))) AS w(p)
            ),
            kept AS (
                SELECT tok.doc_id,
                       string_agg(tk, ' ' ORDER BY tok.p) AS clean_text,
                       count(*) AS n_kept
                FROM tok LEFT JOIN m ON tok.doc_id = m.doc_id
                                    AND tok.p = m.p
                WHERE m.p IS NULL
                GROUP BY tok.doc_id
            ),
            tot AS (SELECT doc_id, len(toks) AS n_toks FROM t)
            SELECT tot.doc_id,
                   coalesce(kept.clean_text, '') AS clean_text,
                   (tot.n_toks - coalesce(kept.n_kept, 0))::BIGINT
                       AS n_removed
            FROM tot LEFT JOIN kept USING (doc_id)
            ORDER BY doc_id
        """,
        "pack_materialize": r"""
            WITH t AS (
                SELECT doc_id, source,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            ),
            c AS (
                SELECT doc_id, source, toks, len(toks) AS n,
                       SUM(len(toks)) OVER (PARTITION BY source
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                       - len(toks) AS strt
                FROM t
            ),
            p AS (
                -- strt comes from a window SUM (HUGEINT in DuckDB);
                -- cast the derived indexes back to BIGINT
                SELECT source,
                       ((strt // 64) + j)::BIGINT AS pack_id,
                       (strt + CASE WHEN j = 0 THEN 0
                               ELSE (64 - (strt % 64)) + (j-1)*64 END)::BIGINT
                           AS pos,
                       (CASE WHEN j = 0 THEN 0
                             ELSE (64 - (strt % 64)) + (j-1)*64 END)::BIGINT
                           AS seg_start,
                       least(n - CASE WHEN j = 0 THEN 0
                                 ELSE (64 - (strt % 64)) + (j-1)*64 END,
                             CASE WHEN j = 0 THEN 64 - (strt % 64)
                                  ELSE 64 END)::BIGINT AS seg_len,
                       toks
                FROM c,
                     UNNEST(generate_series(0,
                         (((strt % 64) + n - 1) // 64)::BIGINT)) AS u(j)
                WHERE n > 0
            ),
            s AS (
                SELECT source, pack_id, pos, seg_start,
                       toks[seg_start + 1 : seg_start + seg_len] AS seg
                FROM p
            ),
            g AS (
                SELECT source, pack_id,
                       flatten(array_agg(seg ORDER BY pos)) AS flat,
                       SUM(CASE WHEN seg_start = 0 THEN 1 ELSE 0 END)::BIGINT
                           AS n_docs
                FROM s GROUP BY source, pack_id
            )
            SELECT source, pack_id,
                   array_to_string(list_concat(flat,
                       list_transform(range(64 - len(flat)), x -> '')),
                       ' ') AS pack_text,
                   len(flat)::BIGINT AS n_real,
                   (64 - len(flat))::BIGINT AS n_pad, n_docs
            FROM g ORDER BY source, pack_id
        """,
        "pipeline_full_e2e": r"""
            WITH base AS (
                SELECT doc_id, lang, source,
                       regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                      '\1' || chr(10), 'g') AS text
                FROM documents WHERE length(trim(text)) > 0
            ),
            -- stage 1: C4 line cleaning
            l1 AS (
                SELECT doc_id, lang, source,
                       list_filter(
                           list_filter(list_transform(
                               string_split(text, chr(10)), x -> trim(x)),
                               x -> length(x) > 0),
                           x -> len(regexp_split_to_array(x, '\s+')) >= 8
                                AND NOT contains(lower(x), 'query')) AS kept
                FROM base
            ),
            cleaned AS (
                SELECT doc_id, lang, source,
                       array_to_string(kept, chr(10)) AS clean_text
                FROM l1 WHERE len(kept) >= 1
            ),
            -- stage 2: quality / repetition filter
            quality AS (
                SELECT doc_id, lang, source, clean_text,
                       regexp_split_to_array(trim(clean_text), '\s+') AS wtoks
                FROM cleaned
                WHERE len(regexp_split_to_array(trim(clean_text), '\s+')) >= 15
                  AND len(list_distinct(regexp_split_to_array(trim(clean_text), '\s+'))) * 1.0
                      / len(regexp_split_to_array(trim(clean_text), '\s+')) >= 0.3
            ),
            -- stage 3: exact near-dup replay (LSH miss ~1e-9 at 0.85)
            ntok AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(
                           lower(clean_text), '[^\w\s]', ' ', 'g'),
                           '\s+', ' ', 'g')), ' ') AS arr
                FROM quality
            ),
            sh3 AS (
                SELECT doc_id,
                       CASE WHEN len(arr) >= 3
                            THEN list_distinct(list_transform(
                                range(1, len(arr) - 1),
                                i -> array_to_string(arr[i:i+2], ' ')))
                            ELSE [array_to_string(arr, ' ')] END AS s
                FROM ntok
            ),
            dpairs AS (
                SELECT b.doc_id AS ib
                FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s)) * 1.0
                      / len(list_distinct(a.s || b.s)) >= 0.85
            ),
            deduped AS (
                SELECT * FROM quality
                WHERE doc_id NOT IN (SELECT ib FROM dpairs)
            ),
            -- stage 4: decontamination vs the raw doc_id < 50 benchmark
            bench AS (
                SELECT regexp_split_to_array(trim(text), '\s+') AS arr
                FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0
            ),
            bg AS (
                SELECT DISTINCT ('0x' || substr(md5(array_to_string(
                           arr[i:i+4], ' ')), 1, 15))::BIGINT AS gh
                FROM bench, UNNEST(generate_series(1, len(arr) - 4)) AS u(i)
                WHERE len(arr) >= 5
            ),
            cg AS (
                SELECT doc_id, ('0x' || substr(md5(array_to_string(
                           wtoks[i:i+4], ' ')), 1, 15))::BIGINT AS gh
                FROM deduped, UNNEST(generate_series(1, len(wtoks) - 4)) AS u(i)
                WHERE len(wtoks) >= 5
            ),
            decon AS (
                SELECT * FROM deduped WHERE doc_id NOT IN (
                    SELECT DISTINCT doc_id FROM cg
                    WHERE gh IN (SELECT gh FROM bg))
            ),
            -- stage 5: DSIR selection (150 docs toward 'en')
            g5 AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT doc_id, unnest(wtoks) AS tok FROM decon)
            ),
            tg5 AS (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT unnest(wtoks) AS tok FROM decon
                      WHERE lang = 'en')
            ),
            rc5 AS (SELECT b, count(*) AS rc FROM g5 GROUP BY b),
            tc5 AS (SELECT b, count(*) AS tc FROM tg5 GROUP BY b),
            rt5 AS (SELECT sum(rc) AS rtot FROM rc5),
            tt5 AS (SELECT coalesce(sum(tc), 0) AS ttot FROM tc5),
            ratio5 AS (
                SELECT coalesce(rc5.b, tc5.b) AS b,
                       ln((coalesce(tc5.tc, 0) + 1.0) / (tt5.ttot + 1024.0))
                       - ln((coalesce(rc5.rc, 0) + 1.0) / (rt5.rtot + 1024.0)) AS lr
                FROM rc5 FULL OUTER JOIN tc5 ON rc5.b = tc5.b, rt5, tt5
            ),
            w5 AS (
                SELECT g5.doc_id, sum(r.lr) AS lw
                FROM g5 JOIN ratio5 r ON g5.b = r.b GROUP BY g5.doc_id
            ),
            sel AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           round(lw + -ln(-ln(
                               (('0x' || substr(md5(concat_ws(chr(31),
                                    CAST(doc_id AS VARCHAR), 'dsir:42')),
                                    1, 15))::BIGINT + 0.5)
                               / 1152921504606846976.0)), 6) AS k
                    FROM w5 ORDER BY k DESC, doc_id LIMIT 150)
            ),
            selected AS (
                SELECT d.* FROM decon d JOIN sel USING (doc_id)
            ),
            -- stage 6: temperature (p^0.5) language rebalancing
            c6 AS (SELECT lang, count(*) AS n FROM selected GROUP BY lang),
            tot6 AS (SELECT sum(n) AS T, sum(pow(n, 0.5)) AS wsum FROM c6),
            r6 AS (
                SELECT lang,
                       round((pow(n, 0.5) / tot6.wsum) * tot6.T / n, 4) AS rate
                FROM c6, tot6
            ),
            rows6 AS (
                SELECT s.doc_id, s.lang, s.source, s.wtoks,
                       floor(r6.rate)::BIGINT AS k,
                       round((r6.rate - floor(r6.rate)) * 10000)::BIGINT AS thr,
                       ('0x' || substr(md5(concat_ws(chr(31),
                            CAST(s.doc_id AS VARCHAR), 'tempmix:42')),
                            1, 15))::BIGINT % 10000 AS b
                FROM selected s JOIN r6 USING (lang)
            ),
            mixed AS (
                SELECT doc_id, lang, source, wtoks, u.copy_id
                FROM (SELECT *, k + CASE WHEN b < thr THEN 1 ELSE 0 END
                          AS n_copies FROM rows6),
                     UNNEST(generate_series(0, n_copies - 1)) AS u(copy_id)
                WHERE n_copies > 0
            ),
            -- stage 7: 512-token packing per source over (doc_id, copy_id)
            c7 AS (
                SELECT doc_id, copy_id, lang, source,
                       SUM(len(wtoks)) OVER (
                           PARTITION BY source ORDER BY doc_id, copy_id
                           ROWS UNBOUNDED PRECEDING) - len(wtoks) AS start
                FROM mixed
            )
            -- stage 8: shard assignment
            SELECT doc_id, copy_id, lang, source,
                   CAST(floor(start / 512) AS BIGINT) AS pack_id,
                   CAST(start % 512 AS BIGINT) AS pack_offset,
                   (('0x' || substr(md5(concat_ws(chr(31),
                        CAST(doc_id AS VARCHAR), CAST(copy_id AS VARCHAR),
                        'shard:42')), 1, 15))::BIGINT % 8)::INT AS shard
            FROM c7 ORDER BY doc_id, copy_id
        """,
        "corpus_e2e": r"""
            WITH base AS (
                SELECT doc_id,
                       regexp_replace(text, '((?:\S+ ){7}\S+) ',
                                      '\1' || chr(10), 'g') AS text
                FROM documents WHERE length(trim(text)) > 0
            ),
            cleaned AS (
                SELECT doc_id,
                       coalesce(array_to_string(
                           list_filter(
                               list_filter(list_transform(
                                   string_split(text, chr(10)),
                                   x -> trim(x)), x -> length(x) > 0),
                               x -> len(regexp_split_to_array(x, '\s+')) >= 8
                                    AND NOT contains(lower(x), 'query')),
                           chr(10)), '') AS clean_text
                FROM base
            ),
            kept AS (
                SELECT doc_id, clean_text FROM cleaned
                WHERE length(clean_text) > 0
            ),
            deduped AS (
                SELECT doc_id, clean_text FROM (
                    SELECT doc_id, clean_text,
                           row_number() OVER (
                               PARTITION BY ('0x' || substr(
                                   md5(lower(clean_text)), 1, 15))::BIGINT
                               ORDER BY doc_id) AS rn
                    FROM kept)
                WHERE rn = 1
            )
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(concat_ws(chr(31),
                            CAST(doc_id AS VARCHAR), 'split:42')),
                            1, 15))::BIGINT % 10000 < 9000
                        THEN 'train' ELSE 'val' END AS split,
                   clean_text
            FROM deduped ORDER BY doc_id
        """,
        "shard_assign": r"""
            SELECT doc_id,
                   (('0x' || substr(md5(concat_ws(chr(31),
                        CAST(doc_id AS VARCHAR), 'shard:42')), 1, 15))::BIGINT
                    % 16)::INT AS shard
            FROM documents ORDER BY doc_id
        """,
        "winnow": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id, i AS pos,
                       ('0x' || substr(md5(array_to_string(a[i:i+4], ' ')),
                                       1, 15))::BIGINT AS h,
                       len(a) - 4 AS G
                FROM d, UNNEST(generate_series(1, len(a) - 4)) AS u(i)
                WHERE len(a) >= 5
            ),
            win AS (
                SELECT doc_id, pos AS j, G,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
                FROM g
            ),
            starts AS (SELECT * FROM win WHERE j <= greatest(G - 3, 1)),
            sel AS (
                SELECT w1.doc_id, w1.j, max(g2.pos) AS pos
                FROM starts w1 JOIN g g2
                  ON g2.doc_id = w1.doc_id
                 AND g2.pos BETWEEN w1.j AND w1.j + 3
                 AND g2.h = w1.m
                GROUP BY w1.doc_id, w1.j
            )
            SELECT DISTINCT s.doc_id, s.pos, g.h AS fp
            FROM sel s JOIN g ON g.doc_id = s.doc_id AND g.pos = s.pos
            ORDER BY s.doc_id, s.pos
        """,
        "bigram_surprisal": r"""
            WITH d AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                FROM documents WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id,
                       a[i] || chr(31) || a[i+1] AS bg,
                       a[i] AS pre
                FROM d, UNNEST(generate_series(1, len(a) - 1)) AS u(i)
            ),
            c2 AS (SELECT bg, count(*) AS c2 FROM g GROUP BY bg),
            c1 AS (SELECT pre, count(*) AS c1 FROM g GROUP BY pre)
            SELECT doc_id,
                   round(avg(-ln(c2.c2 * 1.0 / c1.c1)), 5) AS surprisal,
                   count(*)::BIGINT AS n_grams
            FROM g JOIN c2 USING (bg) JOIN c1 USING (pre)
            GROUP BY doc_id ORDER BY doc_id
        """,
        "ppl_buckets": r"""
            WITH g AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents WHERE length(trim(text)) > 0
            ),
            freq AS (SELECT tok, count(*) AS cnt FROM g GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM freq),
            s AS (
                SELECT g.doc_id,
                       avg(-ln(freq.cnt * 1.0 / tot.total)) AS surprisal
                FROM g JOIN freq USING (tok), tot
                GROUP BY g.doc_id
            )
            SELECT doc_id, round(surprisal, 5) AS surprisal,
                   least(floor(percent_rank()
                           OVER (ORDER BY round(surprisal, 6), doc_id) * 3),
                         2)::BIGINT AS ppl_bucket
            FROM s ORDER BY doc_id
        """,
        "dsir_weights": r"""
            WITH d AS (
                SELECT doc_id, text, lang FROM documents
                WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT doc_id,
                             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM d)
            ),
            tg AS (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM d WHERE lang = 'en')
            ),
            rc AS (SELECT b, count(*) AS rc FROM g GROUP BY b),
            tc AS (SELECT b, count(*) AS tc FROM tg GROUP BY b),
            rt AS (SELECT sum(rc) AS rtot FROM rc),
            tt AS (SELECT coalesce(sum(tc), 0) AS ttot FROM tc),
            ratio AS (
                SELECT coalesce(rc.b, tc.b) AS b,
                       ln((coalesce(tc.tc, 0) + 1.0) / (tt.ttot + 1024.0))
                       - ln((coalesce(rc.rc, 0) + 1.0) / (rt.rtot + 1024.0)) AS lr
                FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, rt, tt
            )
            SELECT g.doc_id, round(sum(r.lr), 5) AS log_weight,
                   count(*)::BIGINT AS n_tokens
            FROM g JOIN ratio r ON g.b = r.b
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        "dsir_sample": r"""
            WITH d AS (
                SELECT doc_id, text, lang FROM documents
                WHERE length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT doc_id,
                             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM d)
            ),
            tg AS (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                      FROM d WHERE lang = 'en')
            ),
            rc AS (SELECT b, count(*) AS rc FROM g GROUP BY b),
            tc AS (SELECT b, count(*) AS tc FROM tg GROUP BY b),
            rt AS (SELECT sum(rc) AS rtot FROM rc),
            tt AS (SELECT coalesce(sum(tc), 0) AS ttot FROM tc),
            ratio AS (
                SELECT coalesce(rc.b, tc.b) AS b,
                       ln((coalesce(tc.tc, 0) + 1.0) / (tt.ttot + 1024.0))
                       - ln((coalesce(rc.rc, 0) + 1.0) / (rt.rtot + 1024.0)) AS lr
                FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, rt, tt
            ),
            w AS (
                SELECT g.doc_id, sum(r.lr) AS lw
                FROM g JOIN ratio r ON g.b = r.b GROUP BY g.doc_id
            ),
            keyed AS (
                SELECT doc_id, lw,
                       round(lw + -ln(-ln(
                           (('0x' || substr(md5(concat_ws(chr(31),
                                CAST(doc_id AS VARCHAR), 'dsir:42')), 1, 15))::BIGINT
                            + 0.5) / 1152921504606846976.0)), 6) AS k
                FROM w
            )
            SELECT doc_id, round(lw, 5) AS log_weight
            FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100)
            ORDER BY doc_id
        """,
        "unigram_surprisal": r"""
            WITH g AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents WHERE length(trim(text)) > 0
            ),
            freq AS (SELECT tok, count(*) AS cnt FROM g GROUP BY tok),
            tot AS (SELECT sum(cnt) AS total FROM freq)
            SELECT g.doc_id,
                   round(avg(-ln(freq.cnt * 1.0 / tot.total)), 5) AS surprisal,
                   count(*) AS n_tokens
            FROM g JOIN freq USING (tok), tot
            GROUP BY g.doc_id ORDER BY g.doc_id
        """,
        # portable seeded hash used by the corpus-assembly operators:
        # ('0x' || first 15 md5 hex chars)::BIGINT of
        # concat_ws(chr(31), id..., seed)
        "det_shuffle": r"""
            SELECT doc_id,
                   ('0x' || substr(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), 'shuffle:42')),
                                   1, 15))::BIGINT AS shuffle_key
            FROM documents ORDER BY shuffle_key, doc_id
        """,
        "hash_split": r"""
            SELECT doc_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), 'split:42')),
                                         1, 15))::BIGINT % 10000 AS b
                  FROM documents)
            ORDER BY doc_id
        """,
        "stratified_sample": r"""
            SELECT doc_id, lang
            FROM (SELECT doc_id, lang,
                         ('0x' || substr(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), 'sample:42')),
                                         1, 15))::BIGINT % 10000 AS b
                  FROM documents)
            WHERE b < CASE WHEN lang = 'en' THEN 1000 ELSE 3000 END
            ORDER BY doc_id
        """,
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id, source,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
                FROM documents),
            c AS (
                SELECT doc_id, source, n,
                       SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n AS start
                FROM t)
            SELECT doc_id, source,
                   CAST(floor(start / 512) AS BIGINT) AS pack_id,
                   CAST(start % 512 AS BIGINT) AS pack_offset
            FROM c ORDER BY doc_id
        """,
        "chunk_documents": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
                FROM documents
            ),
            n AS (
                SELECT doc_id, arr,
                       GREATEST(1, CAST(ceil((len(arr) - 16) / 48.0) AS INT)) AS n_chunks
                FROM t
            )
            SELECT doc_id,
                   CAST(u.ci AS BIGINT) AS chunk_id,
                   array_to_string(arr[u.ci * 48 + 1 : u.ci * 48 + 64], ' ') AS chunk_text,
                   CAST(len(arr[u.ci * 48 + 1 : u.ci * 48 + 64]) AS BIGINT) AS chunk_n_tokens
            FROM n, UNNEST(generate_series(0, n_chunks - 1)) AS u(ci)
            ORDER BY doc_id, chunk_id
        """,
        "resample_strata": r"""
            WITH c AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), 'resample:42')),
                                       1, 15))::BIGINT % 10000 AS b
                FROM documents
            ),
            n AS (
                SELECT doc_id, lang,
                       CASE WHEN lang = 'en' THEN 0 + CASE WHEN b < 5000 THEN 1 ELSE 0 END
                            WHEN lang = 'zh' THEN 2 + CASE WHEN b < 5000 THEN 1 ELSE 0 END
                            ELSE 1 END AS n_copies
                FROM c
            )
            SELECT doc_id, lang, u.copy_id
            FROM n, UNNEST(generate_series(0, n_copies - 1)) AS u(copy_id)
            WHERE n_copies > 0
            ORDER BY doc_id, copy_id
        """,
        "pack_global": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
                FROM documents),
            c AS (
                SELECT doc_id, n,
                       SUM(n) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n AS start
                FROM t)
            SELECT doc_id,
                   CAST(floor(start / 2048) AS BIGINT) AS pack_id,
                   CAST(start % 2048 AS BIGINT) AS pack_offset
            FROM c ORDER BY doc_id
        """,
        "token_budget": r"""
            WITH t AS (
                SELECT doc_id, source,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
                FROM documents),
            c AS (
                SELECT doc_id, source, n_tok,
                       SUM(n_tok) OVER (PARTITION BY source
                                        ORDER BY n_tok DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM t)
            SELECT doc_id, source, n_tok FROM c WHERE cum <= 500
            ORDER BY doc_id
        """,
        "scrub_text": r"""
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       CASE WHEN doc_id % 5 = 0
                            THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.com or http://ex.com/p/'
                                 || CAST(doc_id AS VARCHAR) || ' tel 5551234567'
                            ELSE text END,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^\s]+', '<URL>', 'g'),
                       '\b\d{7,}\b', '<NUM>', 'g') AS clean
            FROM documents ORDER BY doc_id
        """,
        # SimHash with the portable md5-60bit token hash: same counter fold
        # as operators.dedup.simhash64 (bit i of token hash set -> +1 else
        # -1; sign -> bit), hash = first 15 md5 hex chars parsed base-16.
        "simhash": r"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM documents
            ), tok AS (
                SELECT doc_id, unnest(arr) AS w FROM toks
            ), th AS (
                SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok
            ), bits AS (
                SELECT doc_id, b.i AS i,
                       sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
                FROM th CROSS JOIN range(0, 60) AS b(i)
                GROUP BY doc_id, b.i
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN cnt >= 0 THEN (1::BIGINT << i) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id ORDER BY doc_id
        """,
        # Same md5-60bit simhash CTE as the `simhash` oracle, then the
        # exact O(n^2) Hamming cross-join — independent of the banded
        # pigeonhole bucketing the Spark side uses to avoid the n^2.
        "simhash_neardup": r"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM documents
            ), tok AS (
                SELECT doc_id, unnest(arr) AS w FROM toks
            ), th AS (
                SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok
            ), bits AS (
                SELECT doc_id, b.i AS i,
                       sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
                FROM th CROSS JOIN range(0, 60) AS b(i)
                GROUP BY doc_id, b.i
            ), sh AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN cnt >= 0 THEN (1::BIGINT << i) ELSE 0 END)
                            AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ORDER BY id_a, id_b
        """,
        # Stopword-hit argmax with ties to the earlier language in
        # en/de/fr/es/it order ('und' when no stopword hits at all) —
        # exactly the strict-improvement fold in operators.text.language_id.
        "language_id": r"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM documents
            ), hits AS (
                SELECT doc_id,
                       len(list_filter(arr, t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be','at','by','had','not','are'], t))) AS h_en,
                       len(list_filter(arr, t -> list_contains(['der','die','und','das','ist','nicht','mit','ein','von','den','im','für','auf','des','sich','dem','als','auch'], t))) AS h_de,
                       len(list_filter(arr, t -> list_contains(['le','la','et','les','des','est','un','une','du','que','pas','pour','dans','qui','sur','avec','au','par'], t))) AS h_fr,
                       len(list_filter(arr, t -> list_contains(['el','la','de','que','y','los','en','un','las','del','se','por','con','una','para','es','al','lo'], t))) AS h_es,
                       len(list_filter(arr, t -> list_contains(['il','di','che','la','e','un','per','non','una','del','con','si','da','come','le','nel','alla'], t))) AS h_it
                FROM toks
            ), pred AS (
                SELECT CASE WHEN greatest(h_en, h_de, h_fr, h_es, h_it) = 0 THEN 'und'
                            WHEN h_en = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'en'
                            WHEN h_de = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'de'
                            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'fr'
                            WHEN h_es = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'es'
                            ELSE 'it' END AS lang_pred
                FROM hits
            )
            SELECT lang_pred, count(*) AS n FROM pred
            GROUP BY lang_pred ORDER BY lang_pred
        """,
        # The composite linear quality gate of operators.text.quality_score,
        # multiplied in the same left-to-right association order.
        "quality_score": r"""
            WITH base AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS arr
                FROM documents
            ), feat AS (
                SELECT doc_id,
                       len(arr) AS n_tok_raw,
                       list_sum(list_transform(arr, w -> length(w))) * 1.0
                           / greatest(len(arr), 1) AS mean_word_len,
                       len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                           / greatest(length(text), 1) AS punct_ratio,
                       1.0 - len(list_distinct(arr)) * 1.0 / greatest(len(arr), 1) AS dup_ratio,
                       len(list_filter(arr, t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be','at','by','had','not','are'], t))) * 1.0
                           / greatest(len(arr), 1) AS stop_ratio
                FROM base
            )
            SELECT doc_id,
                   round(((((1.0
                       * CASE WHEN n_tok_raw BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.2 END)
                       * CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
                       * CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END)
                       * CASE WHEN dup_ratio < 0.5 THEN 1.0 ELSE 0.3 END)
                       * (0.5 + least(stop_ratio * 2, 0.5)), 6) AS quality
            FROM feat ORDER BY doc_id
        """,
        # The deterministic fake decode is md5-seeded integer arithmetic
        # with exact power-of-two division (multimodal._fake_decode_image),
        # so the pooled feature sum is reproducible in SQL, float32
        # rounding included.
        "multimodal_features": r"""
            -- fake path: replay the md5-seeded pseudo-pixel arithmetic;
            -- REAL path: replay the WAV/PPM payload generators (the
            -- Spark side round-trips actual RIFF/P6 bytes through the
            -- stdlib-wave / pure-numpy decoders).  All reductions are
            -- exact dyadic sums — bit-identical across engines.
            WITH seeds AS (
                SELECT doc_id AS media_id,
                       ('0x' || substr(md5(text), 1, 8))::BIGINT AS seed
                FROM documents
            )
            SELECT media_id, 8 AS feat_dim,
                   round(list_sum(list_transform(range(0, 8),
                       j -> CAST(CAST(((seed + 2654435761 * (j + 1)) % 2147483648)
                                      / 2147483648.0 AS FLOAT) AS DOUBLE))), 4) AS feat_sum,
                   list_sum(list_transform(range(0, 256),
                       j -> abs(CAST(((media_id * 2654435761 + j) % 65536)
                                     - 32768 AS DOUBLE) / 32768.0))) / 256.0
                     AS wav_mean_amp,
                   sqrt(list_sum(list_transform(range(0, 256),
                       j -> (CAST(((media_id * 2654435761 + j) % 65536)
                                  - 32768 AS DOUBLE) / 32768.0)
                            * (CAST(((media_id * 2654435761 + j) % 65536)
                                    - 32768 AS DOUBLE) / 32768.0))) / 256.0)
                     AS wav_rms,
                   list_sum(list_transform(range(0, 8),
                       j -> CAST(CAST(((media_id * 31 + 7 * j) % 256)
                                      / 255.0 AS FLOAT) AS DOUBLE)))
                     AS ppm_feat_sum
            FROM seeds ORDER BY media_id
        """,
        # Assertion oracle (see q_ivf_ann): probe-all IVF must match all 10
        # exact results, and 4-of-8-cell probing must beat the coverage
        # floor.  The Spark side computes both joins against the true
        # brute-force top-10; a bucketing bug (lost cell, mis-assignment)
        # breaks probe_all_matches.
        "ivf_ann": """
            SELECT 10 AS k, 10 AS probe_all_matches,
                   true AS partial_ge_coverage, true AS persisted_roundtrip
        """,
        "embedding_pca": """
            SELECT 8 AS n_components, true AS eigenpairs_exact,
                   true AS orthonormal, true AS eigvals_match_numpy,
                   true AS variance_desc, true AS projection_exact,
                   true AS persisted_roundtrip
        """,
        "pq_ann": """
            SELECT 10 AS k, true AS adc_exact, true AS recall_ge_floor,
                   true AS persisted_roundtrip
        """,
        # Hybrid value+assertion oracle (see q_quantile_sketch): the
        # per-group row counts are exact SQL; within_bound is the
        # exactly-recounted GK rank guarantee.
        "quantile_sketch": """
            SELECT l_returnflag, p AS prob, count(*)::BIGINT AS n_rows,
                   true AS within_bound
            FROM lineitem, (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS p)
            GROUP BY l_returnflag, p
            ORDER BY l_returnflag, p
        """,
        "distinct_sketch": """
            SELECT source, count(DISTINCT text)::BIGINT AS exact_nd,
                   true AS within_3rsd
            FROM documents GROUP BY source ORDER BY source
        """,
        "cms_counts": """
            WITH counts AS (
                SELECT tok, count(*)::BIGINT AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents WHERE length(trim(text)) > 0)
                GROUP BY tok
            ), probes AS (
                SELECT unnest(['join', 'row', 'scan', 'spark', 'vector',
                               'write']) AS token
            )
            SELECT p.token, coalesce(c.n, 0)::BIGINT AS n_exact,
                   true AS bounds_ok
            FROM probes p LEFT JOIN counts c ON c.tok = p.token
            ORDER BY p.token
        """,
        # Assertion oracle (see q_incremental_compact): a third batch
        # answers identically before/after state compaction, and the
        # compacted state reads strictly fewer fragments.
        "incremental_compact": """
            SELECT true AS exact_identical, true AS frag_counts_ok,
                   true AS neardup_identical
        """,
        # Assertion oracle (see q_incremental_neardup): two-batch
        # persisted-signature near-dup must equal the batch
        # signature-verified minhash_dedup on the union.
        "incremental_neardup": """
            SELECT true AS union_matches_batch, true AS state_complete,
                   true AS state_drops_monotone
        """,
        # Assertion oracle (see q_incremental_e2e): two-batch
        # exact+near dedup + ANN append + cumulative packing must
        # reproduce the single-shot batch-union replay.
        "incremental_e2e": """
            SELECT true AS nonempty, true AS survivors_match,
                   true AS packs_match, true AS ann_append_bit_equal,
                   true AS ann_compacted_bit_equal,
                   true AS states_complete
        """,
        # Assertion oracle (see q_ivfpq_ann): composed coarse-quantize +
        # residual-ADC with a predicate pushed into the code-table scan.
        "kmeans_refine": """
            SELECT 8 AS k, true AS numpy_replay_exact,
                   true AS objective_not_degraded, true AS deterministic
        """,
        "ann_append": """
            SELECT 10 AS k, true AS append_bit_equal,
                   true AS compacted_bit_equal, true AS predicate_bit_equal,
                   true AS single_fragment
        """,
        "ivfpq_ann": """
            SELECT 10 AS k, true AS adc_exact, true AS recall_ge_floor,
                   true AS rerank_recall_ge_floor,
                   true AS predicate_consistent, true AS predicate_pushed,
                   true AS persisted_roundtrip
        """,
        "diversity_sample": """
            SELECT true AS shape_ok, true AS per_cell_argmax,
                   true AS deterministic
        """,
    }
    # the streaming twins' sinks must equal the batch replays EXACTLY —
    # they share the batch gates' SQL verbatim (aliased here so the
    # pairs can never drift apart)
    d["stream_replay"] = d["rolling_anomaly"]
    d["stream_sessionize"] = d["sessionize"]
    # stream_resample: the batch time_resample grid CUT at each
    # entity's last FINALIZED real bucket — finalized = bucket end <=
    # the final watermark, compared in Spark's millisecond watermark
    # domain (floor(max event us / 1000)).  Gap rows emit with the
    # real bucket that closes them, so the plain bucket <= last_final
    # cut reproduces the stream's emission set exactly.
    d["stream_resample"] = """
        WITH wm AS (
          SELECT epoch_us(max(ts)) // 1000 AS wm_ms
          FROM events WHERE user_id < 50
        ),
        agg AS (
          SELECT user_id, time_bucket(INTERVAL '2 hours', ts) AS bucket,
                 count(*) AS n_events, round(avg(value), 4) AS v
          FROM events WHERE user_id < 50 GROUP BY 1, 2
        ),
        last_final AS (
          SELECT user_id, max(bucket) AS lb
          FROM agg, wm
          WHERE epoch_ms(bucket + INTERVAL '2 hours') <= wm.wm_ms
          GROUP BY user_id
        ),
        lagged AS (
          SELECT *, lag(bucket) OVER w AS pb, lag(v) OVER w AS pv
          FROM agg WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
        ),
        grid AS (
          SELECT user_id, bucket, n_events, v AS value FROM lagged
          UNION ALL
          SELECT l.user_id,
                 unnest(generate_series(l.pb + INTERVAL '2 hours',
                                        l.bucket - INTERVAL '2 hours',
                                        INTERVAL '2 hours')) AS bucket,
                 0 AS n_events, l.pv AS value
          FROM lagged l
          WHERE l.pb IS NOT NULL
            AND l.bucket > l.pb + INTERVAL '2 hours'
        )
        SELECT g.user_id, g.bucket, g.n_events, g.value
        FROM grid g JOIN last_final lf ON g.user_id = lf.user_id
        WHERE g.bucket <= lf.lb
        ORDER BY g.user_id, g.bucket
    """
    # stream_source: the fragment change feed's union sink — three
    # slices committed as three fragments (one before the first run,
    # two between runs), each delivered exactly once
    d["stream_source"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderkey % 4 IN (0, 1, 2)
        ORDER BY o_orderkey
    """
    # stream_sink: the native sink's two micro-batches, read back from
    # the array = the batch SQL of the same stateless transform
    d["stream_sink"] = """
        SELECT o_orderkey, o_custkey, o_totalprice * 0.5 AS net
        FROM orders WHERE o_totalprice > 1000.0
        ORDER BY o_orderkey
    """
    return d
