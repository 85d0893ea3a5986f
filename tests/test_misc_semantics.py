"""Depth tests: global order, nullable attrs + null_count, Query.df with
cond, chunked CSV ingest, labels on sparse arrays."""

import numpy as np
import pandas as pd
import pytest
from numpy.testing import assert_array_equal

import tiledb_py_spark as tdb


def test_global_order_read(uri, spark):
    """'G' order: fragment commit order, then within-fragment cell order."""
    dom = tdb.Domain(tdb.Dim(name="k", domain=(0, 99), tile=10, dtype=np.int64))
    schema = tdb.ArraySchema(domain=dom,
                             attrs=[tdb.Attr(name="v", dtype=np.int64)],
                             sparse=True, allows_duplicates=True)
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.array([50, 60])] = np.array([1, 2])   # fragment 1
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.array([10, 20])] = np.array([3, 4])   # fragment 2
    A = tdb.open(uri, spark=spark)
    res = A.query(order="G").submit().toPandas()
    # fragment 1 rows first despite larger coords
    assert res["k"].tolist() == [50, 60, 10, 20]
    res_c = A.query(order="C").submit().toPandas()
    assert res_c["k"].tolist() == [10, 20, 50, 60]


def test_nullable_roundtrip_and_null_count(uri, spark):
    pdf = pd.DataFrame({
        "k": np.arange(6, dtype=np.int64),
        "n": pd.array([1, None, 3, None, 5, 6], dtype="Int64"),
    })
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    assert A.schema.attr("n").nullable
    res = A.multi_index[:]
    n = res["n"]
    assert isinstance(n, np.ma.MaskedArray)
    order = np.argsort(res["k"])
    assert list(n.mask[order]) == [False, True, False, True, False, False]
    agg = A.query().agg({"n": ["null_count", "sum", "count"]})[:]
    assert agg["null_count"] == 2
    assert agg["sum"] == 15
    assert agg["count"] == 6  # count counts cells, not non-nulls


def test_query_df_with_cond(uri, spark):
    pdf = pd.DataFrame({"k": np.arange(20, dtype=np.int64),
                        "v": np.arange(20) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    out = A.query(cond="v >= 10.0", attrs=["v"]).df[:]
    assert sorted(out["v"].tolist()) == [float(x) for x in range(10, 20)]
    assert out.index.name == "k"


def test_from_csv_chunked(uri, tmp_path, spark):
    pdf = pd.DataFrame({"k": np.arange(100, dtype=np.int64),
                        "v": np.arange(100) * 0.5})
    csv = tmp_path / "big.csv"
    pdf.to_csv(csv, index=False)
    tdb.from_csv(uri, str(csv), index_dims=["k"], chunksize=30)
    assert len(tdb.array_fragments(uri)) == 4  # 30+30+30+10
    out = tdb.open_dataframe(uri).reset_index().sort_values("k")
    assert out["v"].tolist() == pdf["v"].tolist()


@pytest.mark.parametrize("dtype,vals", [
    ("uint16", np.array([0, 1, 65535], dtype="uint16")),
    ("uint32", np.array([0, 5, 4294967295], dtype="uint32")),
    ("uint64", np.array([0, 7, 2 ** 62], dtype="uint64")),
    ("datetime64[ns]", np.array(["2020-01-01T00:00:00.123456789",
                                 "2021-06-01T12:34:56.987654321"],
                                dtype="datetime64[ns]")),
    ("datetime64[s]", np.array(["2020-01-01T00:00:01",
                                "2021-06-01T12:34:56"], dtype="datetime64[s]")),
    ("timedelta64[ms]", np.array([1500, -200], dtype="timedelta64[ms]")),
], ids=["u16", "u32", "u64", "dt_ns", "dt_s", "td_ms"])
def test_dtype_roundtrip_fidelity(uri, spark, dtype, vals):
    """SURVEY hard part #3: unsigned ints and sub-microsecond datetimes
    round-trip to the EXACT numpy dtype and values (widen/annotate)."""
    n = len(vals)
    dom = tdb.Domain(tdb.Dim(name="k", domain=(0, n - 1), tile=n,
                             dtype=np.int64))
    tdb.Array.create(uri, tdb.ArraySchema(
        domain=dom, attrs=[tdb.Attr(name="v", dtype=dtype)], sparse=True))
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.arange(n)] = vals
    res = tdb.open(uri, spark=spark).multi_index[:]
    got = res["v"][np.argsort(res["k"])]
    assert got.dtype == np.dtype(dtype)
    assert_array_equal(got, vals)


def test_from_pandas_ns_datetime_attr(uri, spark):
    """pandas' default ns-precision timestamps survive from_pandas exactly
    (stored int64 + unit annotation, restored to datetime64[ns])."""
    ts = pd.to_datetime(["2020-01-01 00:00:00.123456789",
                         "2021-06-01 12:34:56.987654321"])
    pdf = pd.DataFrame({"k": np.arange(2, dtype=np.int64), "t": ts})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    res = A.multi_index[:]
    got = res["t"][np.argsort(res["k"])]
    assert got.dtype == np.dtype("datetime64[ns]")
    assert_array_equal(got, ts.to_numpy())
    out = A.df[:]
    assert str(out["t"].dtype) == "datetime64[ns]"


def test_consolidate_delete_timetravel_interplay(uri, spark):
    """SURVEY hard part #6: deletes fold into consolidation; time travel
    before the delete still sees pre-delete data until vacuum removes the
    old fragments."""
    pdf = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                        "v": np.arange(10) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    ts_before = tdb.array_fragments(uri)[0].timestamp_range[1]
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v >= 5.0").submit()
    # pre-delete timestamp still sees all rows
    assert len(tdb.open(uri, timestamp=ts_before, spark=spark).df[:]) == 10
    assert len(tdb.open(uri, spark=spark).df[:]) == 5
    tdb.consolidate(uri)
    # delete is materialized; the live listing shows only the new fragment
    assert len(tdb.open(uri, spark=spark).df[:]) == 5
    m_frags = tdb.array_fragments(uri, include_deletes=True)
    assert len(m_frags) == 1
    # CONSOLIDATE MUST NOT BREAK TIME TRAVEL (ADVICE r1): a pre-delete
    # open still reconstructs the superseded fragments until vacuum
    assert len(tdb.open(uri, timestamp=ts_before, spark=spark).df[:]) == 10
    assert m_frags.to_vacuum_num >= 1
    n = tdb.vacuum(uri)
    assert n >= 1  # old fragment dirs removed
    assert len(tdb.open(uri, spark=spark).df[:]) == 5
    # after vacuum the superseded fragments are gone; time travel now
    # resolves to whatever remains (the consolidated fragment only)
    assert tdb.array_fragments(uri).to_vacuum_num == 0


def test_sparse_label_index(uri, spark):
    """Labels resolve on sparse arrays too (coords + attrs back)."""
    from tiledb_py_spark.labels import write_label_data

    dim = tdb.Dim(name="k", domain=(0, 9), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(
        domain=tdb.Domain(dim),
        attrs=[tdb.Attr(name="v", dtype=np.int64)], sparse=True,
        dim_labels={0: {"temp": dim.create_label_schema("increasing",
                                                        np.float64)}})
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.arange(10)] = np.arange(10) * 10
    write_label_data(uri, "temp", np.arange(10), np.arange(10) * 0.5)
    A = tdb.open(uri, spark=spark)
    res = A.label_index(["temp"])[1.0:2.0]  # labels 1.0,1.5,2.0 -> coords 2,3,4
    assert sorted(res["k"].tolist()) == [2, 3, 4]
    assert sorted(res["v"].tolist()) == [20, 30, 40]
    assert res["temp"].tolist() == [1.0, 1.5, 2.0]


# ---------------------------------------------------------------------------
# int64-stored datetime predicates (ADVICE r1: range_ir/_cast_value mixed
# timestamp literals with LongType storage on ns-unit dims/attrs)
# ---------------------------------------------------------------------------

def _ns_dim_array(uri, spark):
    ts = pd.to_datetime(["2021-01-01 00:00:00.000000001",
                         "2021-01-02 00:00:00.000000002",
                         "2021-01-03 00:00:00.000000003",
                         "2021-01-04 00:00:00.000000004",
                         "2021-01-05 00:00:00.000000005"])
    pdf = pd.DataFrame({"t": ts, "v": np.arange(5) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["t"])
    return ts


def test_ns_datetime_dim_range_read(uri, spark):
    """Range read on a datetime64[ns] dim (stored int64): bounds must be
    compiled into stored-space int64, not timestamp literals."""
    ts = _ns_dim_array(uri, spark)
    A = tdb.open(uri, spark=spark)
    assert A.schema.domain.dim("t").dtype == np.dtype("datetime64[ns]")
    res = A.multi_index[np.datetime64("2021-01-02"):np.datetime64("2021-01-04T12:00")]
    got = np.sort(res["t"])
    assert got.dtype == np.dtype("datetime64[ns]")
    assert_array_equal(got, ts.to_numpy()[1:4])
    # point lookup at exact ns precision
    res = A.multi_index[np.datetime64("2021-01-03T00:00:00.000000003")]
    assert len(res["t"]) == 1 and res["v"][0] == 2.0


def test_ns_datetime_dim_fragment_pruning(uri, spark):
    """Multiple fragments on a ns dim: MBR pruning must compare in int64
    space (np.datetime64(int) raised ValueError and crashed the scan)."""
    ts1 = pd.to_datetime(["2021-01-01", "2021-01-02"])
    ts2 = pd.to_datetime(["2022-01-01", "2022-01-02"])
    pdf = pd.DataFrame({"t": ts1, "v": [1.0, 2.0]})
    tdb.from_pandas(uri, pdf, index_dims=["t"])
    with tdb.open(uri, "w", spark=spark) as A:
        A[ts2.to_numpy()] = {"v": np.array([3.0, 4.0])}
    A = tdb.open(uri, spark=spark)
    res = A.multi_index[np.datetime64("2022-01-01"):np.datetime64("2022-12-31")]
    assert sorted(res["v"].tolist()) == [3.0, 4.0]
    res2 = A.multi_index[np.datetime64("2021-01-01"):np.datetime64("2021-06-01")]
    assert sorted(res2["v"].tolist()) == [1.0, 2.0]


def test_ns_datetime_attr_qc(uri, spark):
    """QueryCondition on a ns attr (stored int64): string and datetime64
    comparison values convert to the stored unit."""
    ts = pd.to_datetime(["2020-01-01 00:00:00.123456789",
                         "2021-06-01 12:34:56.987654321",
                         "2022-03-05 08:00:00.000000001"])
    pdf = pd.DataFrame({"k": np.arange(3, dtype=np.int64), "t": ts})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    res = A.query(cond="t >= '2021-01-01'").multi_index[:]
    assert sorted(res["k"].tolist()) == [1, 2]
    assert res["t"].dtype == np.dtype("datetime64[ns]")


def test_ns_datetime_attr_delete(uri, spark, format_keys):
    """Delete with a condition on a ns attr applies in stored space."""
    ts = pd.to_datetime(["2020-01-01", "2021-06-01", "2022-03-05"])
    pdf = pd.DataFrame({"k": np.arange(3, dtype=np.int64),
                        "t": ts})  # pandas default = ns unit
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="t < '2021-01-01'").submit_delete()
    res = tdb.open(uri, spark=spark).multi_index[:]
    assert sorted(res["k"].tolist()) == [1, 2]
    assert format_keys(uri) == [1, 2]


def test_coarse_unit_datetime_dim(uri, spark):
    """Coarser-than-day units (datetime64[W]) are int64-stored too; range
    reads and scans must work in stored space."""
    dom = tdb.Domain(tdb.Dim(name="w", domain=(np.datetime64("2020-01-06", "W"),
                                               np.datetime64("2021-01-04", "W")),
                             tile=10, dtype="datetime64[W]"))
    tdb.Array.create(uri, tdb.ArraySchema(
        domain=dom, attrs=[tdb.Attr(name="v", dtype=np.float64)], sparse=True))
    ws = np.array(["2020-01-06", "2020-03-02", "2020-06-01"], dtype="datetime64[W]")
    with tdb.open(uri, "w", spark=spark) as A:
        A[ws] = np.array([1.0, 2.0, 3.0])
    A = tdb.open(uri, spark=spark)
    res = A.multi_index[np.datetime64("2020-02-01", "W"):np.datetime64("2020-12-01", "W")]
    assert sorted(res["v"].tolist()) == [2.0, 3.0]
    assert res["w"].dtype == np.dtype("datetime64[W]")


def test_json_extraction_semantics(spark):
    """get_json_object semantics backing the json_props gate: path hits,
    missing keys -> NULL, cast of extracted scalars (kept pytest-covered
    while the gate sits below the driver's correctness window)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "a"}'), (2, '{"k": 11}'),
         (3, '{"tag": "b"}'), (4, None)],
        ["id", "props"])
    got = {r.id: (r.k, r.tag) for r in df.select(
        "id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.tag").alias("tag")).collect()}
    assert got == {1: (7, "a"), 2: (11, None), 3: (None, "b"),
                   4: (None, None)}
    agg = df.agg(F.sum(F.get_json_object("props", "$.k").cast("int"))
                 .alias("s")).collect()[0].s
    assert agg == 18


def test_encryption_key_loud_refusal(tmp_path, spark):
    """Encryption posture (VERDICT r9 item 8): the reference's `key`
    param (array.py:301-386, AES-256-GCM) is accepted for API parity
    but raises a loud TileDBError — never silently ignored, so a caller
    can't believe their data is encrypted when fragments are plaintext
    parquet.  The supported path is storage-layer encryption."""
    import numpy as np
    import pytest

    import tiledb_py_spark as tdb

    uri = str(tmp_path / "enc")
    data = np.arange(10, dtype=np.int64)
    tdb.from_numpy(uri, data)
    with pytest.raises(tdb.TileDBError, match="encryption.*not supported"):
        tdb.open(uri, key=b"0123456789abcdef0123456789abcdef")
    with pytest.raises(tdb.TileDBError, match="encryption.*not supported"):
        tdb.Array.create(str(tmp_path / "enc2"),
                         tdb.schema_like(shape=(4,), dtype=np.int64),
                         key="secret")
    # key=None stays the normal path
    assert tdb.open(uri, key=None).shape == (10,)


def test_dense_multi_index_fills_unwritten_cells(uri, spark):
    """Dense multi_index must return EVERY cell of the union-of-ranges
    selection with unwritten cells as fill (J3) — not just the written
    subset; multi-range unions and point lists included."""
    import numpy as np

    dim = tdb.Dim(name="k", domain=(0, 9), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(
        domain=tdb.Domain(dim),
        attrs=[tdb.Attr(name="v", dtype=np.float64)], sparse=False)
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[0:5] = np.arange(5.0)          # cells 5..9 never written
    A = tdb.open(uri, spark=spark)
    res = A.multi_index[0:9]
    assert res["k"].tolist() == list(range(10))
    assert res["v"][:5].tolist() == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert all(np.isnan(res["v"][5:]))   # float fill = NaN
    # union of disjoint ranges + a point, holes filled per range
    res = A.multi_index[[slice(1, 2), slice(7, 8), 4]]
    assert res["k"].tolist() == [1, 2, 4, 7, 8]
    assert res["v"][:3].tolist() == [1.0, 2.0, 4.0]
    assert all(np.isnan(res["v"][3:]))


def test_dense_aggregates_include_fill_cells(uri, spark):
    """Dense aggregates run over EVERY cell of the subarray with
    unwritten cells as fill (reference dense reads materialize fill
    before aggregating); with a query condition only matching cells
    aggregate."""
    import numpy as np

    dim = tdb.Dim(name="k", domain=(0, 9), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(
        domain=tdb.Domain(dim),
        attrs=[tdb.Attr(name="v", dtype=np.int64, fill=0)], sparse=False)
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[0:5] = np.arange(1, 6)         # cells 5..9 unwritten, fill=0
    A = tdb.open(uri, spark=spark)
    res = A.query().agg({"v": ["count", "sum", "min"]})[0:10]
    assert res["count"] == 10            # all subarray cells
    assert res["sum"] == 15              # fill 0 contributes nothing
    assert res["min"] == 0               # the fill value
    # condition restricts to matching cells only
    res = A.query(cond="v > 0").agg({"v": ["count", "sum"]})[0:10]
    assert res["count"] == 5
    assert res["sum"] == 15
